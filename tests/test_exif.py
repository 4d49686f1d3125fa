"""Exif APP1 parsing (attic/operators/exif.py) — hand-built Exif TIFF streams.

Pins: IFD0 facts, the Exif and GPS sub-IFD walks, exact integer
micro-degree GPS reduction (no float anywhere near a coordinate), both
byte orders, absence-vs-corruption semantics."""

from __future__ import annotations

import struct

import pytest

from attic.operators.exif import jpeg_exif


def _mk_ifd(spec, at: int, endian: str = "<") -> bytes:
    """spec: [(tag, typ, count, payload_bytes)] → one IFD with its heap
    laid out immediately after; ``at`` is the IFD's absolute offset in
    the TIFF stream (needed to compute heap offsets)."""
    n = len(spec)
    heap_at = at + 2 + 12 * n + 4
    entries = b""
    heap = b""
    for tag, typ, count, payload in spec:
        entries += struct.pack(endian + "HHI", tag, typ, count)
        if len(payload) <= 4:
            entries += payload.ljust(4, b"\x00")
        else:
            entries += struct.pack(endian + "I", heap_at + len(heap))
            heap += payload
    return (
        struct.pack(endian + "H", n) + entries + b"\x00\x00\x00\x00" + heap
    )


def _ifd_size(spec) -> int:
    return 2 + 12 * len(spec) + 4 + sum(
        len(p) for _, _, _, p in spec if len(p) > 4
    )


def _rat3(endian, *pairs) -> bytes:
    out = b""
    for num, den in pairs:
        out += struct.pack(endian + "II", num, den)
    return out


def _exif_jpeg(endian: str = "<", gps: bool = True) -> bytes:
    e = endian
    short = lambda v: struct.pack(e + "H", v)  # noqa: E731
    long_ = lambda v: struct.pack(e + "I", v)  # noqa: E731
    exif_spec = [
        (36867, 2, 20, b"2021:01:02 03:04:05\x00"),
        (40962, 4, 1, long_(4032)),
        (40963, 4, 1, long_(3024)),
    ]
    gps_spec = [
        (1, 2, 2, b"N\x00"),
        (2, 5, 3, _rat3(e, (37, 1), (46, 1), (30, 2))),
        (3, 2, 2, b"W\x00"),
        (4, 5, 3, _rat3(e, (122, 1), (25, 1), (0, 1))),
    ]
    ifd0_spec = [
        (271, 2, 8, b"TestCam\x00"),
        (272, 2, 3, b"X1\x00"),
        (274, 3, 1, short(6)),
        (306, 2, 20, b"2023:05:01 10:00:00\x00"),
        (34665, 4, 1, None),  # patched below
    ]
    if gps:
        ifd0_spec.append((34853, 4, 1, None))
    ifd0_at = 8
    exif_at = ifd0_at + _ifd_size(ifd0_spec_sized(ifd0_spec, long_))
    gps_at = exif_at + _ifd_size(exif_spec)
    ifd0_spec[4] = (34665, 4, 1, long_(exif_at))
    if gps:
        ifd0_spec[5] = (34853, 4, 1, long_(gps_at))
    tiff = (
        (b"II*\x00" if e == "<" else b"MM\x00*")
        + struct.pack(e + "I", ifd0_at)
        + _mk_ifd(ifd0_spec, ifd0_at, e)
        + _mk_ifd(exif_spec, exif_at, e)
        + (_mk_ifd(gps_spec, gps_at, e) if gps else b"")
    )
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    return b"\xff\xd8" + app1 + b"\xff\xd9"


def ifd0_spec_sized(spec, long_):
    """Size computation needs concrete payloads for the pointer tags."""
    return [
        (t, ty, c, p if p is not None else long_(0))
        for t, ty, c, p in spec
    ]


def test_full_extraction_little_endian():
    m = jpeg_exif(_exif_jpeg())
    assert m["orientation"] == 6
    assert m["make"] == "TestCam" and m["model"] == "X1"
    assert m["datetime"] == "2023:05:01 10:00:00"
    assert m["datetime_original"] == "2021:01:02 03:04:05"
    assert (m["pixel_width"], m["pixel_height"]) == (4032, 3024)
    # 37 deg 46' 15" N -> floor((37*3600+46*60+15)*1e6/3600)
    assert m["gps_lat_micro"] == 37_770_833
    # 122 deg 25' 0" W -> negative
    assert m["gps_lon_micro"] == -122_416_666


def test_big_endian_stream():
    m = jpeg_exif(_exif_jpeg(endian=">"))
    assert m["orientation"] == 6
    assert m["gps_lat_micro"] == 37_770_833


def test_absence_is_none_not_an_error():
    assert jpeg_exif(b"\xff\xd8\xff\xd9") is None
    # APP1 that is XMP, not Exif
    body = b"http://ns.adobe.com/xap/1.0/\x00<x/>"
    app1 = b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body
    assert jpeg_exif(b"\xff\xd8" + app1 + b"\xff\xd9") is None
    m = jpeg_exif(_exif_jpeg(gps=False))
    assert m["orientation"] == 6 and m["gps_lat_micro"] is None


def test_corruption_is_loud():
    with pytest.raises(ValueError, match="not a JPEG"):
        jpeg_exif(b"nope")
    data = bytearray(_exif_jpeg())
    i = data.find(b"II*\x00")
    data[i : i + 4] = b"XX??"
    with pytest.raises(ValueError, match="not a TIFF stream"):
        jpeg_exif(bytes(data))
    # GPS rational with a zero denominator
    zero_den = _exif_jpeg().replace(
        _rat3("<", (37, 1), (46, 1), (30, 2)),
        _rat3("<", (37, 0), (46, 1), (30, 2)),
    )
    with pytest.raises(ValueError, match="zero denominator"):
        jpeg_exif(zero_den)
    # truncated segment length
    trunc = bytearray(_exif_jpeg())
    trunc[4] = 0xFF
    with pytest.raises(ValueError, match="overruns the stream"):
        jpeg_exif(bytes(trunc))


def test_real_encoder_stream_has_no_exif():
    """Our own encoder emits no APP1 — the None path on a real JPEG."""
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    img = PngImage(8, 8, 8, 0, 1, 8, bytes(64), None)
    assert jpeg_exif(encode_jpeg(img)) is None


def test_census_jpeg_rows_carry_exif_detail():
    """The census's jpeg rows surface the Exif facts — a curation query
    can filter by orientation/GPS without re-parsing payloads. An Exif
    segment must also not break pixel decode (the APP1 walk and the
    entropy decode are independent)."""
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg, decode_jpeg
    from attic.operators.media_census import classify_media
    from hbase_observer_es_spark.operators.png import PngImage

    plain = encode_jpeg(PngImage(8, 8, 8, 0, 1, 8, bytes(range(64)), None))
    # splice the hand-built APP1 right after SOI of a real JPEG
    app1 = _exif_jpeg()[2:-2]  # strip SOI/EOI, keep the APP1 segment
    tagged = plain[:2] + app1 + plain[2:]
    assert decode_jpeg(tagged).raw == decode_jpeg(plain).raw
    row = classify_media(tagged, origin="t.jpg")
    assert row["family"] == "image" and row["format"] == "jpeg"
    assert "orientation 6" in row["detail"]
    assert "TestCam" in row["detail"] and "GPS" in row["detail"]
    assert classify_media(plain, origin="p.jpg")["detail"] == ""


def test_mistyped_tags_degrade_to_none_not_typeerror():
    """r16 review: a tag with the WRONG TIFF field type (a SHORT where
    GPS wants RATIONAL, a RATIONAL where Make wants ASCII) must yield
    None fields or a census-foldable ValueError — never a TypeError
    that kills the whole mapInPandas partition."""
    # GPS latitude typed SHORT instead of RATIONAL
    data = _exif_jpeg().replace(
        struct.pack("<HHI", 2, 5, 3),
        struct.pack("<HHI", 2, 3, 3),
    )
    m = jpeg_exif(data)
    assert m["gps_lat_micro"] is None and m["gps_lon_micro"] == -122_416_666
    # Make typed RATIONAL instead of ASCII
    data2 = _exif_jpeg().replace(
        struct.pack("<HHI", 271, 2, 8),
        struct.pack("<HHI", 271, 5, 1),
    )
    m2 = jpeg_exif(data2)
    assert m2["make"] is None and m2["model"] == "X1"
    # orientation typed RATIONAL
    data3 = _exif_jpeg().replace(
        struct.pack("<HHI", 274, 3, 1),
        struct.pack("<HHI", 274, 5, 0),
    )
    assert jpeg_exif(data3)["orientation"] is None


def test_fill_bytes_before_markers_are_skipped():
    """T.81 B.1.1.2 fill bytes — the pixel decoder accepts them, so the
    Exif walk must not error-row an image that decodes fine."""
    data = _exif_jpeg()
    filled = data[:2] + b"\xff" + data[2:]  # FF D8 FF FF E1 ...
    m = jpeg_exif(filled)
    assert m is not None and m["orientation"] == 6
