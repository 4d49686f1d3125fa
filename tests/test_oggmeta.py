"""Ogg page walk vs RFC 3533 + the Opus/Vorbis id headers: hand-built
pages (CRC pinned against the standard check value), exact durations,
stream-topology refusals, and the Spark fan-out."""

from __future__ import annotations

import struct

import pytest

from attic.operators.oggmeta import (
    _crc32_ogg,
    decode_ogg_audio,
    looks_like_ogg,
    ogg_meta,
    ogg_meta_frame,
)


def test_crc_known_answer():
    """poly 0x04C11DB7, init 0, unreflected, no xorout = CRC-32/POSIX
    without its final xor: check(123456789) = 0x765E7680 ^ 0xFFFFFFFF."""
    assert _crc32_ogg(b"123456789") == 0x89A1897F


def _page(body: bytes, granule: int, seq: int, htype: int = 0, serial: int = 7) -> bytes:
    lacing = []
    n = len(body)
    while n >= 255:
        lacing.append(255)
        n -= 255
    lacing.append(n)
    hdr = (
        b"OggS\x00"
        + bytes([htype])
        + struct.pack("<q", granule)
        + struct.pack("<II", serial, seq)
        + b"\x00\x00\x00\x00"
        + bytes([len(lacing)])
        + bytes(lacing)
    )
    page = bytearray(hdr + body)
    crc = _crc32_ogg(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def _opus_head(channels=2, pre_skip=312, in_rate=44100) -> bytes:
    return (
        b"OpusHead\x01"
        + bytes([channels])
        + struct.pack("<H", pre_skip)
        + struct.pack("<I", in_rate)
        + b"\x00\x00\x00"
    )


def _vorbis_head(channels=1, rate=22050) -> bytes:
    return (
        b"\x01vorbis" + struct.pack("<I", 0) + bytes([channels])
        + struct.pack("<I", rate) + b"\x00" * 12 + b"\x01"
    )


def _opus_file(last_granule=96312, pre_skip=312):
    return (
        _page(_opus_head(pre_skip=pre_skip), 0, 0, htype=2)
        + _page(b"\x00" * 40, last_granule // 2, 1)
        + _page(b"\x00" * 40, last_granule, 2, htype=4)
    )


def test_opus_exact_duration():
    m = ogg_meta(_opus_file())
    assert m == {
        "codec": "opus",
        "channels": 2,
        "sample_rate": 48000,       # granule rate by definition
        "input_sample_rate": 44100,
        "pre_skip": 312,
        "n_pages": 3,
        "total_samples": 96000,     # 96312 - 312
        "duration_us": 2_000_000,   # exactly 2 s
    }


def test_vorbis_exact_duration():
    data = (
        _page(_vorbis_head(), 0, 0, htype=2)
        + _page(b"\x00" * 10, 44100, 1, htype=4)
    )
    m = ogg_meta(data)
    assert (m["codec"], m["channels"], m["sample_rate"]) == ("vorbis", 1, 22050)
    assert m["duration_us"] == 44100 * 1_000_000 // 22050  # 2 s at 22050


def test_large_body_lacing():
    """A 700-byte body laces as 255+255+190 — the multi-segment path."""
    data = (
        _page(_opus_head(), 0, 0, htype=2)
        + _page(b"\x07" * 700, 4800, 1, htype=4)
    )
    assert ogg_meta(data)["n_pages"] == 2


def test_looks_like_and_dispatch_refusal():
    assert looks_like_ogg(_opus_file())
    assert not looks_like_ogg(b"fLaC")
    with pytest.raises(NotImplementedError, match=r"ogg doc-3: audio decode not implemented"):
        decode_ogg_audio(b"OggS", origin="doc-3")
    from attic.operators.flac import decode_audio

    with pytest.raises(NotImplementedError, match=r"ogg doc-4: audio decode"):
        decode_audio(_opus_file(), origin="doc-4")


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: b"XggS" + d[4:], r"not an Ogg stream"),
        (lambda d: d[:50], r"lost page capture at byte 47|truncated"),
        (lambda d: d[:22] + b"\xde\xad\xbe\xef" + d[26:], r"CRC mismatch at byte 0"),
    ],
)
def test_page_violations(mutate, msg):
    with pytest.raises(ValueError, match=msg):
        ogg_meta(mutate(_opus_file()))


def test_stream_topology_refusals():
    head = _page(_opus_head(), 0, 0, htype=2)
    # second BOS -> multiplexed
    mux = head + _page(b"x", 0, 0, htype=2, serial=9)
    with pytest.raises(ValueError, match=r"multiplexed streams unsupported"):
        ogg_meta(mux)
    # sequence gap
    gap = head + _page(b"x" * 3, 100, 5, htype=4)
    with pytest.raises(ValueError, match=r"sequence jumps 0 -> 5"):
        ogg_meta(gap)
    # chained: data after EOS
    chained = _opus_file() + _page(_opus_head(), 0, 0, htype=2)
    with pytest.raises(ValueError, match=r"chained streams unsupported"):
        ogg_meta(chained)
    # missing EOS
    no_eos = head + _page(b"x" * 3, 100, 1)
    with pytest.raises(ValueError, match=r"ends without an end-of-stream"):
        ogg_meta(no_eos)


def test_codec_refusals_by_name():
    flac_ogg = _page(b"\x7fFLAC rest", 0, 0, htype=2)
    with pytest.raises(ValueError, match=r"FLAC-in-Ogg unsupported"):
        ogg_meta(flac_ogg)
    theora = _page(b"\x80theora..", 0, 0, htype=2)
    with pytest.raises(ValueError, match=r"theora VIDEO stream"):
        ogg_meta(theora)
    unknown = _page(b"speex???", 0, 0, htype=2)
    with pytest.raises(ValueError, match=r"unknown codec id packet b'speex"):
        ogg_meta(unknown)


def test_meta_through_spark(spark):
    df = spark.createDataFrame([(1, _opus_file())], "doc_id long, payload binary")
    rows = ogg_meta_frame(df).collect()
    assert len(rows) == 1
    assert (rows[0].codec, rows[0].duration_us, rows[0].channels) == ("opus", 2_000_000, 2)
