"""Audio energy-contour fingerprint: hand-derived bit patterns, the
encoding-variant invariances that motivate it (rate / channels / gain),
and the banded near-dup join over real WAV payloads."""

from __future__ import annotations

import struct

import pytest

from attic.operators.audiohash import (
    HASH_BITS,
    audio_fingerprints_frame,
    audio_near_dups,
    energy_hash,
)
from attic.operators.wav import WavAudio, parse_wav, write_wav


def _clip16(samples, rate=8000, channels=1) -> WavAudio:
    return WavAudio(
        fmt_tag=1,
        channels=channels,
        sample_rate=rate,
        bit_depth=16,
        n_frames=len(samples) // channels,
        data=struct.pack(f"<{len(samples)}h", *samples),
    )


def _ramp_clip(rising: bool) -> WavAudio:
    """65 windows x 2 frames with strictly monotone window energies."""
    amps = range(1, 66) if rising else range(65, 0, -1)
    samples = []
    for a in amps:
        samples += [a * 100, 0]
    return _clip16(samples)


def test_monotone_energy_ramps_hit_the_rails():
    assert energy_hash(_ramp_clip(rising=True)) == (1 << HASH_BITS) - 1
    assert energy_hash(_ramp_clip(rising=False)) == 0


def test_alternating_energy_alternates_bits():
    """Windows with energies hi,lo,hi,lo...: bit w = e(w) < e(w+1) gives
    0 for hi->lo and 1 for lo->hi, so the MSB-first pack is 0101...01."""
    samples = []
    for w in range(65):
        samples += [5000 if w % 2 == 0 else 100, 0]
    want = int("01" * 32, 2)
    assert energy_hash(_clip16(samples)) == want


def test_silence_and_zero_frames_hash_zero():
    assert energy_hash(_clip16([0] * 130)) == 0
    assert energy_hash(_clip16([])) == 0
    assert energy_hash(_clip16([7, -7, 9])) in range(1 << HASH_BITS)  # short clip still hashes


def test_rate_channel_and_gain_variants_agree():
    """The motivating invariances: a 16 kHz linear upsample, a duplicated-
    channel stereo copy, and a 2x-gain copy all fingerprint identically to
    the original (positive-gain invariance of energy-delta direction;
    phase-0 recovery of the 2x resample)."""
    from attic.operators.wav import resample_linear

    base = _ramp_clip(rising=True)
    h = energy_hash(base)

    up = resample_linear(base, 16000)
    assert energy_hash(up) == h

    flat = base.samples()
    stereo = _clip16([v for s in flat for v in (s, s)], channels=2)
    assert energy_hash(stereo) == h

    louder = _clip16([v * 2 for v in flat])
    assert energy_hash(louder) == h


def test_fingerprints_and_near_dups_through_spark(spark):
    """Three payloads: original, a stereo re-encode (near-dup, hamming 0),
    and a reversed-contour clip (far). The banded join returns exactly the
    one pair."""
    base = _ramp_clip(rising=True)
    flat = base.samples()
    stereo = _clip16([v for s in flat for v in (s, s)], channels=2)
    far = _ramp_clip(rising=False)
    rows = [
        (1, write_wav(base)),
        (2, write_wav(stereo)),
        (3, write_wav(far)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    hashes = audio_fingerprints_frame(df)
    got = {r.doc_id: r.ehash for r in hashes.collect()}
    assert got[1] == got[2] != got[3]

    pairs = audio_near_dups(hashes).collect()
    assert [(p.a_id, p.b_id, p.hamming) for p in pairs] == [(1, 2, 0)]


def test_near_dup_threshold_guard(spark):
    df = spark.createDataFrame([(1, 0)], "doc_id long, ehash long")
    with pytest.raises(ValueError, match=r"threshold 4 > 3 breaks"):
        audio_near_dups(df, threshold=4).collect()


def test_fingerprint_survives_wav_roundtrip():
    base = _ramp_clip(rising=True)
    assert energy_hash(parse_wav(write_wav(base))) == energy_hash(base)
