"""WAV decoder vs the public RIFF/WAVE format: hand-built byte streams with
hand-derived expected samples/features (the Avro/PNG golden discipline),
plus fail-loud structural violations and the Spark mapInPandas plumbing."""

from __future__ import annotations

import struct

import pytest

from attic.operators.wav import (
    audio_features_frame,
    looks_like_wav,
    parse_wav,
    wav_features,
)

# ---------------------------------------------------------------- test builder


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    """RIFF chunk with the spec's even-length pad byte."""
    pad = b"\x00" if len(payload) & 1 else b""
    return ctype + struct.pack("<I", len(payload)) + payload + pad


def _fmt(tag, ch, rate, depth, block_align=None, byte_rate=None) -> bytes:
    ba = block_align if block_align is not None else ch * (depth // 8)
    br = byte_rate if byte_rate is not None else rate * ba
    return _chunk(b"fmt ", struct.pack("<HHIIHH", tag, ch, rate, br, ba, depth))


def _wav(*chunks: bytes) -> bytes:
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _pcm16(samples) -> bytes:
    return struct.pack(f"<{len(samples)}h", *samples)


# -------------------------------------------------------------------- goldens


def test_golden_pcm16_mono_samples_and_features():
    """Hand-derived: samples (0, 1000, -1000, 32767, -32768) at 8 kHz ->
    peak 32768 (abs of the -32768 rail), sum_abs 67535, 3 sign changes
    (the leading zero carries no sign), duration 5/8000 s = 625 us."""
    data = _wav(_fmt(1, 1, 8000, 16),
                _chunk(b"data", _pcm16([0, 1000, -1000, 32767, -32768])))
    a = parse_wav(data)
    assert (a.fmt_tag, a.channels, a.sample_rate, a.bit_depth, a.n_frames) == (
        1, 1, 8000, 16, 5
    )
    assert [a.sample(i, 0) for i in range(5)] == [0, 1000, -1000, 32767, -32768]
    assert wav_features(a) == {
        "sample_rate": 8000, "channels": 1, "bit_depth": 16, "n_frames": 5,
        "duration_us": 625, "peak": 32768, "zero_crossings": 3,
        "sum_abs": 67535,
    }


def test_pcm8_unsigned_recenters_to_signed():
    data = _wav(_fmt(1, 1, 44100, 8), _chunk(b"data", bytes([128, 255, 0])))
    a = parse_wav(data)
    assert [a.sample(i, 0) for i in range(3)] == [0, 127, -128]


def test_pcm24_little_endian_signed():
    frames = b"\x01\x00\x00" + b"\xff\xff\xff" + b"\x00\x00\x80"
    a = parse_wav(_wav(_fmt(1, 1, 48000, 24), _chunk(b"data", frames)))
    assert [a.sample(i, 0) for i in range(3)] == [1, -1, -(1 << 23)]


def test_float32_samples_and_scaled_peak():
    frames = struct.pack("<4f", 0.5, -0.25, 0.0, 1.0)
    a = parse_wav(_wav(_fmt(3, 1, 16000, 32), _chunk(b"data", frames)))
    assert a.sample(0, 0) == 0.5
    f = wav_features(a)
    assert f["peak"] == 32768  # 1.0 * 2^15
    assert f["sum_abs"] == 16384 + 8192 + 0 + 32768


def test_float64_supported():
    frames = struct.pack("<2d", -1.0, 0.5)
    a = parse_wav(_wav(_fmt(3, 1, 8000, 64), _chunk(b"data", frames)))
    assert a.sample(0, 0) == -1.0


def test_stereo_interleave_and_all_channel_features():
    # frames: (L,R) = (100, -200), (-300, 400)
    data = _wav(_fmt(1, 2, 22050, 16),
                _chunk(b"data", _pcm16([100, -200, -300, 400])))
    a = parse_wav(data)
    assert (a.sample(0, 0), a.sample(0, 1)) == (100, -200)
    assert (a.sample(1, 0), a.sample(1, 1)) == (-300, 400)
    f = wav_features(a)
    assert f["sum_abs"] == 1000  # all channels summed
    assert f["peak"] == 400
    assert f["zero_crossings"] == 1  # channel 0 only: +100 -> -300


def test_unknown_chunks_skipped_with_odd_length_padding():
    junk = _chunk(b"LIST", b"abc")  # length 3 -> padded to 4
    assert len(junk) == 8 + 4
    data = _wav(junk, _fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([7])),
                _chunk(b"cue ", b"x"))
    assert parse_wav(data).sample(0, 0) == 7


def test_duration_floor_division():
    a = parse_wav(_wav(_fmt(1, 1, 44100, 16), _chunk(b"data", _pcm16([0] * 441))))
    assert a.duration_us == 10000
    b = parse_wav(_wav(_fmt(1, 1, 3, 16), _chunk(b"data", _pcm16([0, 0]))))
    assert b.duration_us == 666666  # floor(2e6 / 3)


# ----------------------------------------------------------------- fail-loud


def _valid() -> bytes:
    return _wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([1, -1])))


def test_looks_like_wav():
    assert looks_like_wav(_valid())
    assert not looks_like_wav(b"RIFFxxxxAVI ")
    assert not looks_like_wav(b"")


@pytest.mark.parametrize(
    "mutilate, msg",
    [
        (lambda d: b"FORM" + d[4:], r"not a RIFF/WAVE"),
        (lambda d: d[:4] + struct.pack("<I", 5) + d[8:], r"RIFF size 5"),
        (lambda d: d[:-3], r"RIFF size|overruns"),
        (lambda d: d + b"\x00\x00", r"RIFF size"),
    ],
)
def test_container_violations(mutilate, msg):
    with pytest.raises(ValueError, match=msg):
        parse_wav(mutilate(_valid()))


def test_truncated_chunk_header():
    body = b"WAVE" + b"fmt"  # 3 bytes, no length
    data = b"RIFF" + struct.pack("<I", len(body)) + body
    with pytest.raises(ValueError, match=r"truncated chunk header"):
        parse_wav(data)


@pytest.mark.parametrize(
    "chunks, msg",
    [
        ((_fmt(1, 1, 8000, 16),), r"missing data chunk"),
        ((_chunk(b"data", b""),), r"missing fmt chunk"),
        ((_fmt(1, 1, 8000, 16), _fmt(1, 1, 8000, 16), _chunk(b"data", b"")),
         r"duplicate fmt"),
        ((_fmt(1, 1, 8000, 16), _chunk(b"data", b""), _chunk(b"data", b"")),
         r"duplicate data"),
        ((_fmt(1, 1, 8000, 16), _chunk(b"data", b"\x01")),
         r"not a multiple of block_align"),
        ((_fmt(7, 1, 8000, 16), _chunk(b"data", b"")), r"mu-law"),
        ((_fmt(0xFFFE, 1, 8000, 16), _chunk(b"data", b"")),
         r"wave-format-extensible"),
        ((_fmt(2, 1, 8000, 16), _chunk(b"data", b"")), r"adpcm"),
        ((_fmt(1, 0, 8000, 16), _chunk(b"data", b"")), r"zero channels"),
        ((_fmt(1, 1, 0, 16, block_align=2, byte_rate=0), _chunk(b"data", b"")),
         r"sample rate \(0\)"),
        ((_fmt(1, 1, 8000, 12), _chunk(b"data", b"")), r"bit depth 12"),
        ((_fmt(3, 1, 8000, 16), _chunk(b"data", b"")),
         r"float bit depth 16"),
        ((_fmt(1, 2, 8000, 16, block_align=2), _chunk(b"data", b"")),
         r"block_align 2 != channels 2"),
        ((_fmt(1, 1, 8000, 16, byte_rate=999), _chunk(b"data", b"")),
         r"byte_rate 999"),
    ],
)
def test_fmt_violations(chunks, msg):
    with pytest.raises(ValueError, match=msg):
        parse_wav(_wav(*chunks))


def test_sum_abs_overflow_guard(monkeypatch):
    import attic.operators.wav as wavmod

    monkeypatch.setattr(wavmod, "_SUM_ABS_CAP", 10)
    a = parse_wav(_wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([6, 6]))))
    with pytest.raises(ValueError, match=r"sum_abs exceeds the int64 guard"):
        wav_features(a)


def test_sample_out_of_bounds():
    a = parse_wav(_valid())
    with pytest.raises(IndexError):
        a.sample(2, 0)
    with pytest.raises(IndexError):
        a.sample(0, 1)


# ------------------------------------------------- the Spark plumbing


def test_audio_features_through_arrow_batches(spark):
    payloads = [
        (1, _wav(_fmt(1, 1, 8000, 16),
                 _chunk(b"data", _pcm16([0, 1000, -1000, 32767, -32768])))),
        (2, _wav(_fmt(1, 2, 22050, 16),
                 _chunk(b"data", _pcm16([100, -200, -300, 400])))),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {r.doc_id: r.asDict() for r in audio_features_frame(df).collect()}
    assert got[1]["peak"] == 32768 and got[1]["zero_crossings"] == 3
    assert got[2]["sum_abs"] == 1000 and got[2]["duration_us"] == 90
    # plan shape: one python stage over the scan, zero exchanges
    plan = audio_features_frame(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_corrupt_payload_names_its_origin(spark):
    df = spark.createDataFrame([(9, b"not audio")], "doc_id long, payload binary")
    with pytest.raises(Exception, match=r"audio 9: .*neither RIFF/WAVE nor FLAC"):
        audio_features_frame(df).collect()


def test_nonfinite_float_samples_refused_by_name():
    frames = struct.pack("<3f", 0.5, float("nan"), 0.25)
    a = parse_wav(_wav(_fmt(3, 1, 8000, 32), _chunk(b"data", frames)))
    with pytest.raises(ValueError, match=r"wav clip-7: non-finite IEEE sample.*frame 1 channel 0"):
        wav_features(a, origin="clip-7")
    inf = parse_wav(_wav(_fmt(3, 2, 8000, 32),
                         _chunk(b"data", struct.pack("<4f", 0.0, float("inf"), 1.0, 2.0))))
    with pytest.raises(ValueError, match=r"frame 0 channel 1"):
        wav_features(inf)


def test_bulk_samples_match_point_accessor():
    for build in (
        _wav(_fmt(1, 2, 8000, 16), _chunk(b"data", _pcm16([100, -200, -300, 400]))),
        _wav(_fmt(1, 1, 8000, 8), _chunk(b"data", bytes([128, 255, 0]))),
        _wav(_fmt(1, 1, 8000, 24),
             _chunk(b"data", b"\x01\x00\x00\xff\xff\xff\x00\x00\x80")),
        _wav(_fmt(1, 1, 8000, 32), _chunk(b"data", struct.pack("<2i", -70000, 70000))),
        _wav(_fmt(3, 1, 8000, 32), _chunk(b"data", struct.pack("<2f", 0.5, -0.25))),
        _wav(_fmt(3, 1, 8000, 64), _chunk(b"data", struct.pack("<2d", -1.0, 0.5))),
    ):
        a = parse_wav(build)
        flat = a.samples()
        assert flat == [
            a.sample(f, c) for f in range(a.n_frames) for c in range(a.channels)
        ]


def test_wav_payload_named_in_image_decoder_refusal():
    from hbase_observer_es_spark.operators.multimodal import decode_image_real

    with pytest.raises(NotImplementedError, match=r"riff/wave AUDIO"):
        decode_image_real(_valid())


# ------------------------------------------------- writer + segmentation


def test_write_wav_roundtrip_every_format():
    builds = [
        _wav(_fmt(1, 2, 22050, 16), _chunk(b"data", _pcm16([100, -200, -300, 400]))),
        _wav(_fmt(1, 1, 44100, 8), _chunk(b"data", bytes([128, 255, 0]))),
        _wav(_fmt(1, 1, 48000, 24),
             _chunk(b"data", b"\x01\x00\x00\xff\xff\xff\x00\x00\x80")),
        _wav(_fmt(3, 1, 8000, 32), _chunk(b"data", struct.pack("<2f", 0.5, -0.25))),
    ]
    from attic.operators.wav import write_wav

    for data in builds:
        a = parse_wav(data)
        out = write_wav(a)
        assert out == write_wav(a)  # deterministic bytes
        b = parse_wav(out)
        assert (b.fmt_tag, b.channels, b.sample_rate, b.bit_depth,
                b.n_frames, b.data) == (
            a.fmt_tag, a.channels, a.sample_rate, a.bit_depth,
            a.n_frames, a.data,
        )


def test_write_wav_odd_data_pads_even():
    from attic.operators.wav import write_wav

    a = parse_wav(_wav(_fmt(1, 1, 8000, 8), _chunk(b"data", bytes([128, 200, 50]))))
    out = write_wav(a)
    assert len(out) % 2 == 0  # RIFF even-length rule honored
    assert parse_wav(out).samples() == [0, 72, -78]


def test_write_wav_rejects_geometry_lies():
    from attic.operators.wav import WavAudio, write_wav

    with pytest.raises(ValueError, match=r"data length 3 != n_frames 2"):
        write_wav(WavAudio(1, 1, 8000, 16, 2, b"\x00\x00\x00"))
    with pytest.raises(ValueError, match=r"cannot write format tag 7"):
        write_wav(WavAudio(7, 1, 8000, 16, 0, b""))
    # every parse_wav fmt rule holds on the write side too — a lying
    # WavAudio must die here, not emit bytes parse_wav rejects
    with pytest.raises(ValueError, match=r"PCM bit depth 12 unwritable"):
        write_wav(WavAudio(1, 1, 8000, 12, 2, b"\x00\x00\x00"))
    with pytest.raises(ValueError, match=r"IEEE float bit depth 16 unwritable"):
        write_wav(WavAudio(3, 1, 8000, 16, 1, b"\x00\x00"))
    with pytest.raises(ValueError, match=r"zero channels \(0\)"):
        write_wav(WavAudio(1, 0, 8000, 16, 0, b""))
    with pytest.raises(ValueError, match=r"sample rate \(0\)"):
        write_wav(WavAudio(1, 1, 0, 16, 1, b"\x00\x00"))


def test_write_wav_float_emits_fact_chunk():
    """The WAVE spec mandates a fact chunk for non-PCM formats: tag-3
    output carries fact(n_frames) between fmt and data; PCM output does
    not. parse_wav skips it as an unknown chunk, so round-trip holds."""
    from attic.operators.wav import write_wav

    f = parse_wav(_wav(_fmt(3, 1, 8000, 32), _chunk(b"data", struct.pack("<2f", 0.5, -0.25))))
    out = write_wav(f)
    at = out.index(b"fact")
    assert struct.unpack("<II", out[at + 4 : at + 12]) == (4, 2)
    assert parse_wav(out).data == f.data
    pcm = parse_wav(_wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([7]))))
    assert b"fact" not in write_wav(pcm)


def test_slice_frames_bounds_and_content():
    from attic.operators.wav import slice_frames

    a = parse_wav(_wav(_fmt(1, 2, 8000, 16),
                       _chunk(b"data", _pcm16([1, 2, 3, 4, 5, 6]))))
    s = slice_frames(a, 1, 2)
    assert s.n_frames == 2 and s.samples() == [3, 4, 5, 6]
    with pytest.raises(ValueError, match=r"slice \[2, 4\) outside 0..3"):
        slice_frames(a, 2, 2)
    with pytest.raises(ValueError, match=r"outside"):
        slice_frames(a, -1, 1)


def test_audio_segments_fan_out(spark):
    """7 frames, window 3, hop 3 -> segments [0,3) [3,6) [6,7) with
    hand-derived per-window features."""
    samples = [0, 1000, -1000, 32767, -32768, 5, -5]
    payload = _wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16(samples)))
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    from attic.operators.wav import audio_segments_frame

    got = {
        r.seg_idx: (r.start_frame, r.n_frames, r.peak, r.zero_crossings, r.sum_abs)
        for r in audio_segments_frame(df, window_frames=3).collect()
    }
    assert got == {
        0: (0, 3, 1000, 1, 2000),       # 0,1000,-1000: one + -> - crossing
        1: (3, 3, 32768, 2, 65540),     # 32767,-32768,5
        2: (6, 1, 5, 0, 5),             # trailing partial window kept
    }


def test_audio_segments_overlapping_hop(spark):
    payload = _wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([10, 20, 30, 40])))
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    from attic.operators.wav import audio_segments_frame

    rows = audio_segments_frame(df, window_frames=3, hop_frames=1).collect()
    assert [(r.start_frame, r.n_frames) for r in sorted(rows, key=lambda r: r.seg_idx)] == [
        (0, 3), (1, 3), (2, 2), (3, 1)
    ]
    with pytest.raises(ValueError, match=r"window_frames 0"):
        audio_segments_frame(df, window_frames=0)


def test_audio_segments_zero_frame_clip_keeps_coverage_row(spark):
    """A valid empty-data clip must not vanish from the per-doc output."""
    payload = _wav(_fmt(1, 1, 8000, 16), _chunk(b"data", b""))
    df = spark.createDataFrame([(9, payload)], "doc_id long, payload binary")
    from attic.operators.wav import audio_segments_frame

    rows = audio_segments_frame(df, window_frames=4).collect()
    assert [(r.doc_id, r.seg_idx, r.start_frame, r.n_frames, r.peak,
             r.zero_crossings, r.sum_abs) for r in rows] == [
        (9, 0, 0, 0, 0, 0, 0)
    ]


def test_audio_segments_float_clip_matches_per_slice_features(spark):
    """Tag-3 windows reduce over the once-scaled int domain — identical to
    a standalone wav_features of the same slice."""
    vals = [0.5, -0.25, 0.125, -0.0625, 0.75]
    payload = _wav(_fmt(3, 1, 8000, 32), _chunk(b"data", struct.pack("<5f", *vals)))
    from attic.operators.wav import (
        audio_segments_frame, slice_frames, wav_features,
    )

    df = spark.createDataFrame([(1, payload)], "doc_id long, payload binary")
    got = {
        r.seg_idx: (r.peak, r.zero_crossings, r.sum_abs)
        for r in audio_segments_frame(df, window_frames=2).collect()
    }
    clip = parse_wav(payload)
    for idx, start in enumerate(range(0, 5, 2)):
        f = wav_features(slice_frames(clip, start, min(2, 5 - start)))
        assert got[idx] == (f["peak"], f["zero_crossings"], f["sum_abs"])


# --------------------------------------------------------- normalization


def test_to_mono_floor_mean_per_frame():
    from attic.operators.wav import to_mono

    a = parse_wav(_wav(_fmt(1, 2, 8000, 16),
                       _chunk(b"data", _pcm16([100, 201, -5, -6]))))
    m = to_mono(a)
    assert (m.channels, m.n_frames, m.sample_rate) == (1, 2, 8000)
    assert m.samples() == [150, -6]  # floor: 301//2, -11//2 -> -6


def test_to_mono_refuses_float_and_passes_mono_through():
    from attic.operators.wav import to_mono

    f = parse_wav(_wav(_fmt(3, 1, 8000, 32), _chunk(b"data", struct.pack("<f", 0.5))))
    with pytest.raises(ValueError, match=r"to_mono needs PCM"):
        to_mono(f)
    a = parse_wav(_wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([7]))))
    assert to_mono(a) is a


def test_to_pcm16_every_source_depth():
    from attic.operators.wav import to_pcm16

    b8 = parse_wav(_wav(_fmt(1, 1, 8000, 8), _chunk(b"data", bytes([128, 255, 0]))))
    assert to_pcm16(b8).samples() == [0, 127 << 8, -128 << 8]
    b24 = parse_wav(_wav(_fmt(1, 1, 8000, 24),
                         _chunk(b"data", b"\x00\x01\x00\xff\xfe\xff")))
    assert to_pcm16(b24).samples() == [1, -2]  # >>8 floor
    b32 = parse_wav(_wav(_fmt(1, 1, 8000, 32),
                         _chunk(b"data", struct.pack("<2i", 1 << 16, -(1 << 16) - 1))))
    assert to_pcm16(b32).samples() == [1, -2]  # floor shift on negatives
    f = parse_wav(_wav(_fmt(3, 1, 8000, 32),
                       _chunk(b"data", struct.pack("<3f", 0.5, -1.5, 1.5))))
    assert to_pcm16(f).samples() == [16384, -32768, 32767]  # saturating clamp
    b16 = parse_wav(_wav(_fmt(1, 1, 8000, 16), _chunk(b"data", _pcm16([9]))))
    assert to_pcm16(b16) is b16


def test_resample_linear_exact_midpoints():
    """8000 -> 16000 doubles frames; odd output frames sit exactly halfway
    between input neighbours (frac 8000/16000), floor division."""
    from attic.operators.wav import resample_linear

    a = parse_wav(_wav(_fmt(1, 1, 8000, 16),
                       _chunk(b"data", _pcm16([0, 100, -101]))))
    up = resample_linear(a, 16000)
    assert (up.sample_rate, up.n_frames) == (16000, 6)
    # t: 0 .5 1 1.5 2 2.5(clamped) ; (100-101*... ) halfway of 100,-101 = floor(-0.5)= -1
    assert up.samples() == [0, 50, 100, -1, -101, -101]
    down = resample_linear(up, 8000)
    assert down.samples() == [0, 100, -101]  # phase-0 frames recover the input


def test_resample_linear_stereo_interleave_and_guards():
    from attic.operators.wav import resample_linear

    a = parse_wav(_wav(_fmt(1, 2, 8000, 16),
                       _chunk(b"data", _pcm16([0, 1000, 100, -1000]))))
    up = resample_linear(a, 16000)
    assert up.samples() == [0, 1000, 50, 0, 100, -1000, 100, -1000]
    with pytest.raises(ValueError, match=r"out_rate 0"):
        resample_linear(a, 0)
    same = resample_linear(a, 8000)
    assert same.data == a.data and same.n_frames == 2


def test_normalize_audio_idempotent_bytes():
    from attic.operators.wav import normalize_audio, write_wav

    a = parse_wav(_wav(_fmt(1, 2, 44100, 8),
                       _chunk(b"data", bytes([128, 200, 30, 250, 90, 128]))))
    n1 = normalize_audio(a, rate=16000)
    assert (n1.channels, n1.bit_depth, n1.sample_rate) == (1, 16, 16000)
    n2 = normalize_audio(n1, rate=16000)
    assert write_wav(n2) == write_wav(n1)


def test_audio_normalize_frame_roundtrip(spark):
    from attic.operators.wav import (
        audio_normalize_frame, normalize_audio,
    )

    payload = _wav(_fmt(1, 2, 32000, 16),
                   _chunk(b"data", _pcm16([0, 100, 2000, -100, -2000, 300])))
    df = spark.createDataFrame([(5, payload)], "doc_id long, payload binary")
    rows = audio_normalize_frame(df, rate=16000).collect()
    assert len(rows) == 1
    got = parse_wav(bytes(rows[0].payload))
    want = normalize_audio(parse_wav(payload), rate=16000)
    assert got.data == want.data
    assert (rows[0].n_frames, rows[0].duration_us) == (
        want.n_frames, want.duration_us,
    )


def test_to_pcm16_nan_refused_with_origin_context():
    from attic.operators.wav import to_pcm16

    payload = _wav(_fmt(3, 2, 8000, 32),
                   _chunk(b"data", struct.pack("<4f", 0.0, 0.5, float("nan"), 1.0)))
    with pytest.raises(ValueError, match=r"wav doc-7: .*frame 1 channel 0"):
        to_pcm16(parse_wav(payload), origin="doc-7")


# ------------------------------------------------------------ G.711


def test_g711_tables_match_the_stdlib_reference():
    """Every mu-law and A-law byte expands bit-identically to the stdlib
    audioop reference implementation (an independent oracle)."""
    import warnings

    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop
    from attic.operators.wav import _ALAW, _MULAW

    for b in range(256):
        (want_u,) = struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))
        (want_a,) = struct.unpack("<h", audioop.alaw2lin(bytes([b]), 2))
        assert _MULAW[b] == want_u, f"mu-law {b:#04x}"
        assert _ALAW[b] == want_a, f"a-law {b:#04x}"


def test_g711_wav_expands_to_linear_pcm():
    data = _wav(_fmt(7, 1, 8000, 8), _chunk(b"data", bytes([0x00, 0x7F, 0x80])))
    a = parse_wav(data)
    assert (a.fmt_tag, a.bit_depth, a.n_frames) == (1, 16, 3)
    assert a.samples() == [-32124, 0, 32124]
    al = parse_wav(_wav(_fmt(6, 2, 8000, 8), _chunk(b"data", bytes([0x55, 0xAA]))))
    assert (al.channels, al.n_frames) == (2, 1)
    assert al.samples() == [-8, 32256]


def test_g711_composes_with_features_and_normalize():
    from attic.operators.wav import normalize_audio

    data = _wav(_fmt(7, 1, 8000, 8), _chunk(b"data", bytes([0x80, 0x00] * 4)))
    a = parse_wav(data)
    f = wav_features(a)
    assert f["peak"] == 32124 and f["zero_crossings"] == 7
    n = normalize_audio(a, rate=8000)
    assert (n.channels, n.bit_depth, n.sample_rate) == (1, 16, 8000)


def test_g711_wrong_depth_refused():
    with pytest.raises(ValueError, match=r"mu-law \(G.711\) needs 8-bit"):
        parse_wav(_wav(_fmt(7, 1, 8000, 16, block_align=2, byte_rate=16000),
                       _chunk(b"data", b"")))
