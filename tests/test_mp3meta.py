"""MP3 framing walk vs the public header layout: hand-built frame
sequences with hand-computed lengths/durations, tag handling, refusals,
and the Spark fan-out. No audio decode exists — pinned as a loud refusal."""

from __future__ import annotations

import pytest

from attic.operators.mp3meta import (
    decode_mp3_audio,
    looks_like_mp3,
    mp3_meta,
    mp3_meta_frame,
)


def _hdr(vcode, lcode, bcode, scode, padding=0, mode=3) -> bytes:
    b1 = 0xFF
    b2 = 0xE0 | (vcode << 3) | (lcode << 1) | 1
    b3 = (bcode << 4) | (scode << 2) | (padding << 1)
    b4 = mode << 6
    return bytes([b1, b2, b3, b4])


def _frame_v1l3_128_44100(padding=0) -> bytes:
    """MPEG-1 Layer III 128 kbps 44100 Hz mono: length 144*128000//44100
    (+pad) = 417 (+pad) bytes — hand-derived."""
    length = 417 + padding
    return _hdr(3, 1, 9, 0, padding=padding) + b"\x00" * (length - 4)


def test_cbr_v1_layer3_exact_facts():
    data = _frame_v1l3_128_44100() * 3
    m = mp3_meta(data)
    assert m == {
        "version": 1,
        "layer": 3,
        "sample_rate": 44100,
        "channel_mode": "mono",
        "n_mpeg_frames": 3,
        "total_samples": 3456,
        "duration_us": 3456 * 1_000_000 // 44100,   # 78367
        "mean_bitrate": (3 * 417) * 8 * 44100 // 3456,  # 127706
    }


def test_padding_bit_lengthens_the_frame():
    data = _frame_v1l3_128_44100(padding=1) + _frame_v1l3_128_44100()
    m = mp3_meta(data)
    assert m["n_mpeg_frames"] == 2 and m["total_samples"] == 2304


def test_mpeg2_layer3_uses_576_samples():
    # MPEG-2 (vcode 2), layer III, code 8 -> 64 kbps, 22050 Hz: length
    # 576//8 * 64000 // 22050 = 72*64000//22050 = 208
    frame = _hdr(2, 1, 8, 0) + b"\x00" * (208 - 4)
    m = mp3_meta(frame * 4)
    assert (m["version"], m["sample_rate"], m["total_samples"]) == (2, 22050, 2304)


def test_layer1_slot_formula():
    # MPEG-1 Layer I (lcode 3), code 1 -> 32 kbps, 44100 Hz:
    # (12*32000//44100 + 0) * 4 = 8*4 = 32 bytes
    frame = _hdr(3, 3, 1, 0) + b"\x00" * (32 - 4)
    m = mp3_meta(frame * 2)
    assert (m["layer"], m["n_mpeg_frames"], m["total_samples"]) == (1, 2, 768)


def test_id3v2_prefix_and_id3v1_trailer_excluded():
    tag2 = b"ID3\x04\x00\x00" + bytes([0, 0, 0, 10]) + b"T" * 10
    tag1 = b"TAG" + b"\x00" * 125
    data = tag2 + _frame_v1l3_128_44100() * 2 + tag1
    m = mp3_meta(data)
    assert m["n_mpeg_frames"] == 2
    # mean bitrate weighs AUDIO bytes only (tags excluded)
    assert m["mean_bitrate"] == (2 * 417) * 8 * 44100 // 2304


def test_looks_like_mp3():
    assert looks_like_mp3(_frame_v1l3_128_44100())
    assert looks_like_mp3(b"ID3\x04\x00\x00\x00\x00\x00\x00")
    assert not looks_like_mp3(b"fLaC")
    assert not looks_like_mp3(b"\xff\xe8\x00\x00")  # reserved version


@pytest.mark.parametrize(
    "data, msg",
    [
        (_frame_v1l3_128_44100()[:-5] , r"overruns the audio span"),
        (_frame_v1l3_128_44100() + b"\x12\x34\x56\x78" + b"\x00" * 40,
         r"lost frame sync at byte 417"),
        (_hdr(3, 1, 0, 0) + b"\x00" * 100, r"free-format bitrate unsupported"),
        (_hdr(3, 1, 15, 0) + b"\x00" * 100, r"invalid bitrate code"),
        (_hdr(3, 1, 9, 3) + b"\x00" * 100, r"reserved sample rate"),
        (b"ID3\x04\x00\x00" + bytes([0, 0, 0, 100]), r"ID3v2 tag of 110 bytes overruns"),
        (b"ID3\x04\x00\x00" + bytes([0, 0, 0, 2]) + b"xx", r"no audio frames after the tags"),
        (_frame_v1l3_128_44100() + b"\xff\xfb", r"too short for a frame header"),
    ],
)
def test_refusals(data, msg):
    with pytest.raises(ValueError, match=msg):
        mp3_meta(data)


def test_mid_stream_parameter_change_is_loud():
    a = _frame_v1l3_128_44100()
    b = _hdr(2, 1, 8, 0) + b"\x00" * (208 - 4)  # different version/rate
    with pytest.raises(ValueError, match=r"parameters change mid-file at byte 417"):
        mp3_meta(a + b)


def test_audio_decode_refused_by_name():
    with pytest.raises(NotImplementedError, match=r"mp3 doc-1: audio decode not implemented"):
        decode_mp3_audio(b"\xff\xfb\x90\xc0", origin="doc-1")


def test_meta_through_spark(spark):
    data = _frame_v1l3_128_44100() * 5
    df = spark.createDataFrame([(1, data)], "doc_id long, payload binary")
    rows = mp3_meta_frame(df).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.n_mpeg_frames, r.sample_rate, r.channel_mode) == (5, 44100, "mono")
    assert r.duration_us == 5 * 1152 * 1_000_000 // 44100


def test_mp3_payload_named_in_audio_dispatch_refusal():
    from attic.operators.flac import decode_audio

    with pytest.raises(NotImplementedError, match=r"mp3 doc-2: audio decode not implemented"):
        decode_audio(_frame_v1l3_128_44100(), origin="doc-2")
