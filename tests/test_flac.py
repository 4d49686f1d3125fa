"""FLAC codec vs the public format spec: encoder round-trips with the
format's own MD5 oracle, hand-built frames for the decode-only paths
(LPC, stereo decorrelation, wasted bits, escape residuals), CRC
known-answer pins, and loud refusals."""

from __future__ import annotations

import struct

import pytest

from attic.operators.flac import (
    _crc8,
    _crc16,
    encode_flac,
    flac_to_wav,
    looks_like_flac,
    parse_flac,
)

# ------------------------------------------------------------- CRC pins


def test_crc_known_answers():
    """CRC-8 (poly 0x07, init 0) and CRC-16 (poly 0x8005, init 0,
    unreflected) standard check values over b'123456789' — pins the
    polynomials independently so builder and decoder cannot share a
    mutual bug."""
    assert _crc8(b"123456789") == 0xF4
    assert _crc16(b"123456789") == 0xFEE8


# ------------------------------------------------------- test builders


class _TBits:
    """Test-side MSB-first packer, independent of the module's writer."""

    def __init__(self):
        self.bits = []

    def put(self, v, n):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)
        return self

    def bytes(self):
        while len(self.bits) % 8:
            self.bits.append(0)
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _streaminfo(rate, ch, bps, total, block=4):
    si = (rate << 44) | ((ch - 1) << 41) | ((bps - 1) << 36) | total
    body = (
        struct.pack(">HH", block, block)
        + b"\x00" * 6
        + si.to_bytes(8, "big")
        + b"\x00" * 16  # zero MD5 = unset, check skipped
    )
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _frame(header_fields, subframe_bits, block_size):
    """One frame: header (bs_code 6 → 8-bit size at end), CRC-8, body,
    CRC-16."""
    ch_code, ss_code = header_fields
    h = _TBits()
    h.put(0b11111111111110, 14).put(0, 1).put(0, 1)
    h.put(6, 4).put(0, 4)  # block size follows; rate from STREAMINFO
    h.put(ch_code, 4).put(ss_code, 3).put(0, 1)
    h.put(0, 8)  # coded frame number 0
    h.put(block_size - 1, 8)
    hdr = h.bytes()
    hdr += bytes([_crc8(hdr)])
    body = subframe_bits.bytes()
    frame = hdr + body
    return frame + struct.pack(">H", _crc16(frame))


def _constant_subframe(b, value, bits):
    b.put(0, 1).put(0, 6).put(0, 1).put(value & ((1 << bits) - 1), bits)


# -------------------------------------------------- encoder round-trips


def test_roundtrip_every_depth_and_channels():
    cases = [
        (1, 8, [i % 200 - 100 for i in range(777)]),
        (2, 16, [((i * 37) % 4001) - 2000 for i in range(2000)]),
        (1, 24, [((i * 9173) % 100001) - 50000 for i in range(500)]),
        (3, 16, [((i * 13) % 999) - 500 for i in range(999)]),
    ]
    for ch, depth, samples in cases:
        data = encode_flac(samples, ch, 16000, depth, block_size=250)
        assert data == encode_flac(samples, ch, 16000, depth, block_size=250)
        d = parse_flac(data)
        assert d["samples"] == samples, (ch, depth)
        assert (d["channels"], d["bit_depth"], d["sample_rate"]) == (ch, depth, 16000)


def test_constant_blocks_compress_and_roundtrip():
    samples = [7] * 600 + [((i * 31) % 101) - 50 for i in range(600)]
    data = encode_flac(samples, 1, 8000, 16, block_size=300)
    assert parse_flac(data)["samples"] == samples
    flat_only = encode_flac([7] * 1200, 1, 8000, 16, block_size=300)
    assert len(flat_only) < len(data)  # constant subframes actually engage


def test_md5_oracle_catches_tampering():
    samples = list(range(-100, 100))
    data = bytearray(encode_flac(samples, 1, 8000, 16))
    # STREAMINFO MD5 lives at bytes 8+18+... : magic(4)+hdr(4)+34-byte body,
    # md5 = last 16 of the body
    md5_at = 4 + 4 + 18
    data[md5_at] ^= 0xFF
    with pytest.raises(ValueError, match=r"decoded-sample MD5 mismatch"):
        parse_flac(bytes(data))


# ------------------------------------------------ hand-built decode paths


def test_hand_built_lpc_order1_subframe():
    """LPC order 1, coefficient 1, shift 0: prediction = previous sample,
    so samples are the cumulative sums of warmup + residuals. Residuals
    (1, -2, 3) after warmup 10 -> 10, 11, 9, 12."""
    b = _TBits()
    b.put(0, 1).put(32, 6).put(0, 1)  # LPC order 1 (type 0b100000)
    b.put(10 & 0xFFFF, 16)  # warmup
    b.put(1, 4)   # precision-1 = 1 -> 2 bits (1-bit signed cannot hold +1)
    b.put(0, 5)   # shift 0
    b.put(1, 2)   # coefficient +1
    b.put(0, 2)   # residual: 4-bit rice method 0
    b.put(0, 4)   # partition order 0
    b.put(0, 4)   # rice param 0
    for zz in (2, 3, 6):  # zigzag of +1, -2, +3
        b.put(1, zz + 1)  # zz unary zeros then the terminating 1
    data = _streaminfo(8000, 1, 16, 4) + _frame((0, 4), b, 4)
    d = parse_flac(data)
    assert d["samples"] == [10, 11, 9, 12]


def test_hand_built_stereo_decorrelation_all_three():
    """CONSTANT subframes make the stereo math exact by hand:
    left-side L=100 S=30 -> R=70; right-side S=30 R=70 -> L=100;
    mid-side L=5 R=3 -> mid=4 side=2."""
    # left-side (ch_code 8): left 16 bits, side 17 bits
    b = _TBits()
    _constant_subframe(b, 100, 16)
    _constant_subframe(b, 30, 17)
    d = parse_flac(_streaminfo(8000, 2, 16, 4) + _frame((8, 4), b, 4))
    assert d["samples"] == [100, 70] * 4
    # right-side (ch_code 9): side 17 bits first, then right 16
    b = _TBits()
    _constant_subframe(b, 30, 17)
    _constant_subframe(b, 70, 16)
    d = parse_flac(_streaminfo(8000, 2, 16, 4) + _frame((9, 4), b, 4))
    assert d["samples"] == [100, 70] * 4
    # mid-side (ch_code 10): mid 16 bits, side 17 bits
    b = _TBits()
    _constant_subframe(b, 4, 16)
    _constant_subframe(b, 2, 17)
    d = parse_flac(_streaminfo(8000, 2, 16, 4) + _frame((10, 4), b, 4))
    assert d["samples"] == [5, 3] * 4


def test_hand_built_wasted_bits():
    """Wasted-bits flag set, unary run 0 -> 1 wasted bit: a 15-bit
    constant 21 decodes as 42."""
    b = _TBits()
    b.put(0, 1).put(0, 6).put(1, 1)  # constant, wasted flag
    b.put(1, 1)  # unary 0 -> wasted = 1
    b.put(21, 15)
    d = parse_flac(_streaminfo(8000, 1, 16, 4) + _frame((0, 4), b, 4))
    assert d["samples"] == [42, 42, 42, 42]


def test_hand_built_escape_residual():
    """Rice escape (param 15) -> raw 5-bit residuals. FIXED order 0 means
    samples ARE the residuals."""
    b = _TBits()
    b.put(0, 1).put(8, 6).put(0, 1)  # FIXED order 0
    b.put(0, 2)  # method 0 (4-bit params)
    b.put(0, 4)  # partition order 0
    b.put(15, 4)  # escape
    b.put(6, 5)  # raw residual width: 6 bits (the field itself is 5 bits)
    for v in (5, -5, 0, 31):
        b.put(v & 0x3F, 6)
    d = parse_flac(_streaminfo(8000, 1, 16, 4) + _frame((0, 4), b, 4))
    assert d["samples"] == [5, -5, 0, 31]


# ------------------------------------------------------------- refusals


def test_refusals():
    assert looks_like_flac(encode_flac([1, 2], 1, 8000, 16))
    with pytest.raises(ValueError, match=r"not a FLAC stream"):
        parse_flac(b"OggS....")
    with pytest.raises(ValueError, match=r"missing STREAMINFO"):
        parse_flac(b"fLaC" + bytes([0x81]) + (2).to_bytes(3, "big") + b"xx")
    good = bytearray(encode_flac(list(range(50)), 1, 8000, 16))
    good[-1] ^= 0x01  # the frame footer CRC itself
    with pytest.raises(ValueError, match=r"CRC-16 mismatch"):
        parse_flac(bytes(good))
    hdr_corrupt = bytearray(encode_flac(list(range(50)), 1, 8000, 16))
    # frame starts right after the 46-byte header block (4+4+34+4... compute)
    frame_at = hdr_corrupt.index(b"\xff\xf8")
    hdr_corrupt[frame_at + 4] ^= 0x40  # coded-number byte -> CRC-8 breaks
    with pytest.raises(ValueError, match=r"CRC-8 mismatch"):
        parse_flac(bytes(hdr_corrupt))


def test_total_count_mismatch_is_loud():
    data = encode_flac([1, 2, 3, 4], 1, 8000, 16)
    # declare 5 total frames in STREAMINFO (36-bit field, low bits of si)
    tampered = bytearray(data)
    si_at = 4 + 4 + 10
    si = int.from_bytes(tampered[si_at : si_at + 8], "big")
    si = (si & ~((1 << 36) - 1)) | 5
    tampered[si_at : si_at + 8] = si.to_bytes(8, "big")
    with pytest.raises(ValueError, match=r"decoded 4 frames but STREAMINFO declares 5"):
        parse_flac(bytes(tampered))


def test_encode_guards():
    with pytest.raises(ValueError, match=r"zero frames"):
        encode_flac([], 1, 8000, 16)
    with pytest.raises(ValueError, match=r"not a multiple of 2 channels"):
        encode_flac([1, 2, 3], 2, 8000, 16)
    with pytest.raises(ValueError, match=r"outside 16-bit range"):
        encode_flac([40000], 1, 8000, 16)


# ------------------------------------------------------------ the bridge


def test_flac_to_wav_composes_with_the_audio_stack():
    from attic.operators.audiohash import energy_hash
    from attic.operators.wav import wav_features, write_wav

    samples = [((i * 211) % 2001) - 1000 for i in range(1300)]
    clip = flac_to_wav(encode_flac(samples, 1, 8000, 16, block_size=500))
    assert (clip.channels, clip.sample_rate, clip.bit_depth) == (1, 8000, 16)
    assert clip.samples() == samples
    f = wav_features(clip)
    assert f["n_frames"] == 1300
    assert isinstance(energy_hash(clip), int)
    assert write_wav(clip)  # serializes cleanly


def test_out_of_range_residuals_refused():
    """A CRC-valid stream whose residuals accumulate past the declared
    width must refuse loudly, not emit out-of-range samples."""
    b = _TBits()
    b.put(0, 1).put(9, 6).put(0, 1)  # FIXED order 1
    b.put(30000, 16)  # warmup
    b.put(0, 2).put(0, 4).put(15, 4)  # escape residual
    b.put(16, 5)  # raw width 16
    for _ in range(3):
        b.put(20000, 16)  # +20000 each step: 50000, 70000, 90000
    data = _streaminfo(8000, 1, 16, 4) + _frame((0, 4), b, 4)
    with pytest.raises(ValueError, match=r"sample 50000 at frame 1 channel 0 outside the declared 16-bit"):
        parse_flac(data)


def test_encode_field_guards():
    with pytest.raises(ValueError, match=r"sample rate 1048576 outside"):
        encode_flac([1], 1, 1 << 20, 16)
    with pytest.raises(ValueError, match=r"block size 8 outside"):
        encode_flac([1], 1, 8000, 16, block_size=8)


def test_audio_frames_accept_flac_payloads(spark):
    """The WAV and FLAC copies of the same clip flow the same pipeline:
    identical features and identical fingerprints through the Spark
    frames — 'same audio, different container' dedup for free."""
    from attic.operators.audiohash import audio_fingerprints_frame
    from attic.operators.wav import (
        WavAudio, audio_features_frame, write_wav,
    )

    samples = [((i * 211) % 2001) - 1000 for i in range(600)]
    wav_payload = write_wav(WavAudio(1, 1, 8000, 16, 600, struct.pack("<600h", *samples)))
    flac_payload = encode_flac(samples, 1, 8000, 16, block_size=200)
    df = spark.createDataFrame(
        [(1, wav_payload), (2, flac_payload)], "doc_id long, payload binary"
    )
    feats = {r.doc_id: (r.peak, r.zero_crossings, r.sum_abs, r.n_frames)
             for r in audio_features_frame(df).collect()}
    assert feats[1] == feats[2]
    hashes = {r.doc_id: r.ehash for r in audio_fingerprints_frame(df).collect()}
    assert hashes[1] == hashes[2]
