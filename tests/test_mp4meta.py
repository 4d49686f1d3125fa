"""MP4/ISO-BMFF box walk: hand-built box trees with hand-derived exact
durations, per-track rows, guards on attacker-controlled sizes, and the
named sample-decode refusal."""

from __future__ import annotations

import struct

import pytest

from attic.operators.mp4meta import (
    decode_mp4_media,
    looks_like_mp4,
    mp4_meta,
    mp4_meta_frame,
)


def _box(fourcc: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + fourcc + body


def _fullbox0(payload: bytes) -> bytes:
    return b"\x00\x00\x00\x00" + payload


def _ftyp(brand=b"isom") -> bytes:
    return _box(b"ftyp", brand + b"\x00\x00\x02\x00" + b"isomiso2")


def _mvhd_v0(timescale: int, duration: int) -> bytes:
    return _box(b"mvhd", _fullbox0(
        struct.pack(">II", 0, 0) + struct.pack(">II", timescale, duration)
        + b"\x00" * 80
    ))


def _mvhd_v1(timescale: int, duration: int) -> bytes:
    return _box(b"mvhd", b"\x01\x00\x00\x00" + struct.pack(
        ">QQIQ", 0, 0, timescale, duration
    ) + b"\x00" * 80)


def _mdhd_v0(timescale: int, duration: int) -> bytes:
    return _box(b"mdhd", _fullbox0(
        struct.pack(">II", 0, 0) + struct.pack(">II", timescale, duration)
        + b"\x00" * 4
    ))


def _hdlr(handler: bytes) -> bytes:
    return _box(b"hdlr", _fullbox0(b"\x00" * 4 + handler + b"\x00" * 13))


def _stsd_video(codec=b"avc1", w=640, h=360) -> bytes:
    entry_body = (
        b"\x00" * 6 + struct.pack(">H", 1)        # reserved + data ref idx
        + b"\x00" * 16                             # predefined/reserved
        + struct.pack(">HH", w, h)
        + b"\x00" * 50                             # rest of the visual entry
    )
    entry = _box(codec, entry_body)
    return _box(b"stsd", _fullbox0(struct.pack(">I", 1) + entry))


def _stsd_audio(codec=b"mp4a") -> bytes:
    entry = _box(codec, b"\x00" * 28)
    return _box(b"stsd", _fullbox0(struct.pack(">I", 1) + entry))


def _trak(handler: bytes, mdhd: bytes, stsd: bytes) -> bytes:
    stbl = _box(b"stbl", stsd)
    minf = _box(b"minf", stbl)
    mdia = _box(b"mdia", mdhd + _hdlr(handler) + minf)
    return _box(b"trak", mdia)


def _movie() -> bytes:
    v = _trak(b"vide", _mdhd_v0(30000, 90000), _stsd_video())
    a = _trak(b"soun", _mdhd_v0(48000, 96000), _stsd_audio())
    moov = _box(b"moov", _mvhd_v0(1000, 2500) + v + a)
    return _ftyp() + moov


def test_movie_and_track_facts_exact():
    m = mp4_meta(_movie())
    assert m["brand"] == "isom"
    assert m["duration_us"] == 2_500_000
    assert m["tracks"] == [
        {
            "handler": "vide", "codec": "avc1", "timescale": 30000,
            "duration_us": 3_000_000, "width": 640, "height": 360,
        },
        {
            "handler": "soun", "codec": "mp4a", "timescale": 48000,
            "duration_us": 2_000_000, "width": 0, "height": 0,
        },
    ]


def test_v1_64bit_mvhd():
    moov = _box(b"moov", _mvhd_v1(90000, 90000 * 3600 * 25)
                + _trak(b"vide", _mdhd_v0(30000, 30000), _stsd_video()))
    m = mp4_meta(_ftyp() + moov)
    assert m["duration_us"] == 3600 * 25 * 1_000_000  # 25 h, exact


def test_largesize_box_walks():
    inner = _mvhd_v0(1000, 1000) + _trak(b"vide", _mdhd_v0(1000, 1000), _stsd_video())
    big = struct.pack(">I", 1) + b"moov" + struct.pack(">Q", 16 + len(inner)) + inner
    m = mp4_meta(_ftyp() + big)
    assert m["duration_us"] == 1_000_000


def test_looks_like_and_refusals():
    assert looks_like_mp4(_movie())
    assert not looks_like_mp4(b"RIFFxxxxAVI ")
    with pytest.raises(ValueError, match=r"not an ISO-BMFF"):
        mp4_meta(b"\x00\x00\x00\x08free")
    with pytest.raises(ValueError, match=r"missing moov"):
        mp4_meta(_ftyp() + _box(b"mdat", b"\x00" * 8))
    with pytest.raises(ValueError, match=r"moov without mvhd"):
        mp4_meta(_ftyp() + _box(b"moov", _box(b"udta", b"")))
    notracks = _ftyp() + _box(b"moov", _mvhd_v0(1000, 1000))
    with pytest.raises(ValueError, match=r"carries no tracks"):
        mp4_meta(notracks)


def test_size_guards_are_loud():
    lying = bytearray(_movie())
    moov_at = lying.index(b"moov") - 4
    lying[moov_at : moov_at + 4] = struct.pack(">I", 1 << 30)  # overruns file
    with pytest.raises(ValueError, match=r"overrunning its container"):
        mp4_meta(bytes(lying))
    with pytest.raises(ValueError, match=r"timescale is zero"):
        mp4_meta(_ftyp() + _box(b"moov", _mvhd_v0(0, 10)
                 + _trak(b"vide", _mdhd_v0(1000, 1000), _stsd_video())))


def test_sample_decode_refused_by_name():
    with pytest.raises(NotImplementedError, match=r"mp4 doc-9: sample decode not implemented"):
        decode_mp4_media(_movie(), origin="doc-9")


def test_meta_through_spark_one_row_per_track(spark):
    df = spark.createDataFrame([(1, _movie())], "doc_id long, payload binary")
    rows = sorted(mp4_meta_frame(df).collect(), key=lambda r: r.track_idx)
    assert [(r.track_idx, r.handler, r.codec, r.track_duration_us, r.width) for r in rows] == [
        (0, "vide", "avc1", 3_000_000, 640),
        (1, "soun", "mp4a", 2_000_000, 0),
    ]
    assert all(r.movie_duration_us == 2_500_000 and r.brand == "isom" for r in rows)


def test_empty_timing_box_is_loud_not_indexerror():
    """An empty mvhd at EOF must die as the module's ValueError (the
    census folds only ValueError/NotImplementedError into rows)."""
    empty_mvhd = struct.pack(">I", 8) + b"mvhd"
    data = _ftyp() + _box(b"moov", empty_mvhd)
    with pytest.raises(ValueError, match=r"mvhd box is empty"):
        mp4_meta(data)
