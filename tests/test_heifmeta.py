"""HEIF/HEIC/AVIF metadata (attic/operators/heifmeta.py) — ISO 23008-12.

Hand-built item structures pin the box walk: ftyp brands, the meta
fullbox's pitm/iinf tables, ipco property resolution through ipma so
the PRIMARY item's geometry wins over thumbnails, the largest-ispe
fallback, rotation/channel facts, refusals with offsets, and the
census routing (HEIC must not fall into the mp4 video branch)."""

from __future__ import annotations

import struct

import pytest

from attic.operators.heifmeta import (
    decode_heif,
    heif_meta,
    looks_like_heif,
)


def _box(cc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", 8 + len(body)) + cc + body


def _full(cc: bytes, version: int, flags: int, body: bytes) -> bytes:
    return _box(cc, bytes([version]) + flags.to_bytes(3, "big") + body)


def _infe(item_id: int, item_type: bytes) -> bytes:
    return _full(
        b"infe", 2, 0,
        struct.pack(">HH", item_id, 0) + item_type + b"\x00",
    )


def _heic(brand: bytes = b"heic", with_ipma: bool = True) -> bytes:
    ftyp = _box(b"ftyp", brand + b"\x00\x00\x00\x00" + b"mif1")
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    iinf = _full(
        b"iinf", 0, 0,
        struct.pack(">H", 2) + _infe(1, b"hvc1") + _infe(2, b"hvc1"),
    )
    ispe_main = _full(b"ispe", 0, 0, struct.pack(">II", 4032, 3024))
    irot = _box(b"irot", bytes([1]))  # 90 degrees
    pixi = _full(b"pixi", 0, 0, bytes([3, 8, 8, 8]))
    ispe_thumb = _full(b"ispe", 0, 0, struct.pack(">II", 320, 240))
    ipco = _box(b"ipco", ispe_main + irot + pixi + ispe_thumb)
    # item 1 -> properties 1,2,3; item 2 -> property 4
    ipma = _full(
        b"ipma", 0, 0,
        struct.pack(">I", 2)
        + struct.pack(">H", 1) + bytes([3, 1, 2, 3])
        + struct.pack(">H", 2) + bytes([1, 4]),
    )
    iprp = _box(b"iprp", ipco + (ipma if with_ipma else b""))
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"pict" + b"\x00" * 12)
    meta = _full(b"meta", 0, 0, hdlr + pitm + iinf + iprp)
    return ftyp + meta + _box(b"mdat", b"\x00" * 16)


def test_primary_item_geometry_wins_over_thumbnail():
    m = heif_meta(_heic())
    assert m["format"] == "heic" and m["brand"] == "heic"
    assert (m["width"], m["height"]) == (4032, 3024)
    assert m["rotation"] == 90 and m["channels"] == 3
    assert m["n_items"] == 2 and m["item_types"] == ["hvc1"]
    assert m["primary_item"] == 1


def test_avif_brand_and_sniff():
    data = _heic(brand=b"avif")
    assert looks_like_heif(data)
    m = heif_meta(data)
    assert m["format"] == "avif" and m["brand"] == "avif"
    assert not looks_like_heif(_box(b"ftyp", b"isom" + b"\x00" * 8))


def test_largest_ispe_fallback_without_ipma():
    m = heif_meta(_heic(with_ipma=False))
    assert (m["width"], m["height"]) == (4032, 3024)
    assert m["rotation"] is None  # no association: rotation unknowable


def test_decode_refuses_by_name():
    with pytest.raises(NotImplementedError, match="HEVC"):
        decode_heif(_heic())
    with pytest.raises(NotImplementedError, match="AV1"):
        decode_heif(_heic(brand=b"avif"))


def test_structural_refusals_carry_offsets():
    data = _heic()
    # ipma naming a property index past the ipco list
    bad = data.replace(
        struct.pack(">H", 2) + bytes([1, 4]),
        struct.pack(">H", 2) + bytes([1, 9]),
    )
    with pytest.raises(ValueError, match=r"property 9 of 4"):
        heif_meta(bad)
    # a structurally valid ispe box whose body is too short for w+h
    short_ispe = _full(b"ispe", 0, 0, struct.pack(">I", 320))
    ipco = _box(b"ipco", short_ispe)
    meta = _full(b"meta", 0, 0, _box(b"iprp", ipco))
    bad2 = _box(b"ftyp", b"heic" + b"\x00" * 8) + meta
    with pytest.raises(ValueError, match="ispe truncated"):
        heif_meta(bad2)
    with pytest.raises(ValueError, match="no meta box"):
        heif_meta(_box(b"ftyp", b"heic" + b"\x00" * 8) + _box(b"mdat", b""))
    with pytest.raises(ValueError, match="not a HEIF"):
        heif_meta(b"\x00" * 16)


def test_census_routes_heif_as_image_not_video():
    from attic.operators.media_census import classify_media

    row = classify_media(_heic(), origin="a.heic")
    assert row["family"] == "image" and row["format"] == "heic"
    assert (row["width"], row["height"]) == (4032, 3024)
    # r16 review: still-image rows carry n_frames=1 like png/jpeg/bmp,
    # and the ipma-resolved pixi channel count lands in the row
    assert row["n_frames"] == 1 and row["channels"] == 3
    assert "rotation 90" in row["detail"]
    assert "refused by name" in row["detail"]
    assert classify_media(_heic(b"avif"), origin="b.avif")["format"] == "avif"
