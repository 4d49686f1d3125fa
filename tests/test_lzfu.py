"""LZFu / compressed-RTF codec (attic/operators/lzfu.py) — MS-OXRTFCP.

Pinning per the repo codec discipline: the decoder is pinned by (a) the
spec's OWN §3.1 worked examples byte-for-byte, and (b) an INDEPENDENT
test-side greedy-match encoder written directly from the wire format
(first-byte candidate scan over the ring dictionary, simulated
self-overlapping copies) — a transcription mistake in either side fails
the cross comparison loudly. The production writer ``compress_lzfu``
(literal-only tokens) is pinned the other way by this decoder plus the
spec vectors. Corruption/truncation paths pin the refusal contract.
"""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from attic.operators.lzfu import (
    _DICT_SIZE,
    _SEED,
    compress_lzfu,
    decompress_lzfu,
    lzfu_crc,
)

# MS-OXRTFCP §3.1.1: the spec's compressed worked example
_SPEC_LZ = bytes([
    0x2D, 0x00, 0x00, 0x00, 0x2B, 0x00, 0x00, 0x00,
    0x4C, 0x5A, 0x46, 0x75, 0xF1, 0xC5, 0xC7, 0xA7,
    0x03, 0x00, 0x0A, 0x00, 0x72, 0x63, 0x70, 0x67,
    0x31, 0x32, 0x35, 0x42, 0x32, 0x0A, 0xF3, 0x20,
    0x68, 0x65, 0x6C, 0x09, 0x00, 0x20, 0x62, 0x77,
    0x05, 0xB0, 0x6C, 0x64, 0x7D, 0x0A, 0x80, 0x0F,
    0xA0,
])
_SPEC_RAW_TEXT = b"{\\rtf1\\ansi\\ansicpg1252\\pard hello world}\r\n"


def test_spec_compressed_example_decodes_byte_for_byte():
    assert decompress_lzfu(_SPEC_LZ, "spec") == _SPEC_RAW_TEXT


def test_spec_uncompressed_example_round_trips():
    # §3.1.2 shape: MELA stored form, CRC must be zero
    raw = b"{\\rtf1\\ansi\\ansicpg1252\\pard test}\r\n"
    stream = struct.pack("<IIII", len(raw) + 12, len(raw), 0x414C454D, 0) + raw
    assert decompress_lzfu(stream, "spec") == raw
    assert compress_lzfu(raw, stored=True) == stream


# ------------------------------------------------- independent encoder


def _encode_greedy(data: bytes) -> bytes:
    """INDEPENDENT test-side LZFu encoder: greedy longest-match over the
    ring dictionary with the decoder's exact copy semantics simulated
    (so self-overlapping run matches are emitted and verified)."""
    d = bytearray(_DICT_SIZE)
    d[: len(_SEED)] = _SEED
    wp = len(_SEED)
    tokens = []  # (flag, token bytes)
    i, n = 0, len(data)
    while i < n:
        best_len, best_off = 0, -1
        first = data[i]
        for o in range(_DICT_SIZE):
            if d[o] != first or o == wp:  # offset == wp is the END marker
                continue
            # simulate the decoder's copy (reads may hit fresh writes)
            sim = d[:]
            rp, w, ln = o, wp, 0
            while ln < 17 and i + ln < n and sim[rp] == data[i + ln]:
                sim[w] = sim[rp]
                rp = (rp + 1) % _DICT_SIZE
                w = (w + 1) % _DICT_SIZE
                ln += 1
            if ln > best_len:
                best_len, best_off = ln, o
        if best_len >= 2:
            ref = (best_off << 4) | (best_len - 2)
            tokens.append((1, bytes([ref >> 8, ref & 0xFF])))
            # apply the copy for real (the search used a scratch buffer)
            rp = best_off
            for _ in range(best_len):
                c = d[rp]
                rp = (rp + 1) % _DICT_SIZE
                d[wp] = c
                wp = (wp + 1) % _DICT_SIZE
            i += best_len
        else:
            tokens.append((0, bytes([first])))
            d[wp] = first
            wp = (wp + 1) % _DICT_SIZE
            i += 1
    tokens.append((1, bytes([wp >> 4, (wp & 0xF) << 4])))
    body = bytearray()
    for g in range(0, len(tokens), 8):
        group = tokens[g : g + 8]
        control = 0
        for j, (flag, _) in enumerate(group):
            control |= flag << j
        body.append(control)
        for _, tb in group:
            body += tb
    return (
        struct.pack("<IIII", len(body) + 12, n, 0x75465A4C, lzfu_crc(bytes(body)))
        + bytes(body)
    )


@pytest.mark.parametrize(
    "data",
    [
        b"",
        b"x",
        b"{\\rtf1\\ansi hello}",  # seed-dictionary matches from byte 0
        _SPEC_RAW_TEXT,
        b"abcabcabcabcabcabc",  # self-overlapping run match
        b"a" * 300,  # maximal RLE-style self-reference
        bytes(range(256)),  # all-literal
    ],
)
def test_independent_encoder_round_trips(data):
    assert decompress_lzfu(_encode_greedy(data)) == data


@given(data=st.binary(max_size=120))
@settings(max_examples=60, deadline=None)
def test_independent_encoder_round_trip_property(data):
    assert decompress_lzfu(_encode_greedy(data)) == data


@given(data=st.binary(max_size=2000))
@settings(max_examples=30, deadline=None)
def test_production_writer_round_trip_property(data):
    assert decompress_lzfu(compress_lzfu(data)) == data
    assert decompress_lzfu(compress_lzfu(data, stored=True)) == data


def test_ring_wraparound_past_4096():
    """Output > 4096 bytes wraps the write cursor (and the end-marker
    offset) — both encoders must agree with the decoder through the
    wrap."""
    data = (b"wrap the ring dictionary " * 400)[:9000]
    assert decompress_lzfu(compress_lzfu(data)) == data
    assert decompress_lzfu(_encode_greedy(data[:5000])) == data[:5000]


# ----------------------------------------------------------- refusals


def test_corruption_refuses_with_offsets():
    with pytest.raises(ValueError, match="no 16-byte header"):
        decompress_lzfu(b"\x01\x02")
    # COMPSIZE disagreeing with the stream length
    bad = bytearray(_SPEC_LZ)
    bad[0] ^= 1
    with pytest.raises(ValueError, match="declares"):
        decompress_lzfu(bytes(bad))
    # CRC mismatch
    bad = bytearray(_SPEC_LZ)
    bad[12] ^= 1
    with pytest.raises(ValueError, match="CRC mismatch at byte 12"):
        decompress_lzfu(bytes(bad))
    # unknown COMPTYPE
    bad = bytearray(_SPEC_LZ)
    bad[8] ^= 0xFF
    with pytest.raises(ValueError, match="unknown COMPTYPE"):
        decompress_lzfu(bytes(bad))
    # RAWSIZE disagreeing with the decompressed length
    bad = bytearray(_SPEC_LZ)
    bad[4] ^= 1
    bad[0:4] = struct.pack("<I", len(bad) - 4)  # keep COMPSIZE honest
    with pytest.raises(ValueError, match="declares"):
        decompress_lzfu(bytes(bad))
    # MELA with nonzero CRC
    raw = b"test"
    stream = struct.pack("<IIII", 16, 4, 0x414C454D, 7) + raw
    with pytest.raises(ValueError, match="nonzero CRC"):
        decompress_lzfu(stream)


def test_missing_end_marker_is_loud():
    # two literals, no end-of-stream reference
    body = bytes([0x00]) + b"ab"
    stream = struct.pack(
        "<IIII", len(body) + 12, 2, 0x75465A4C, lzfu_crc(body)
    ) + body
    with pytest.raises(ValueError, match="without the end-of-stream"):
        decompress_lzfu(stream)


def test_truncated_reference_is_loud():
    body = bytes([0x01, 0x0C])  # flag says reference, one byte follows
    stream = struct.pack(
        "<IIII", len(body) + 12, 0, 0x75465A4C, lzfu_crc(body)
    ) + body
    with pytest.raises(ValueError, match="reference truncated"):
        decompress_lzfu(stream)


def test_output_budget_is_enforced_before_copy():
    data = b"b" * 64
    comp = compress_lzfu(data)
    with pytest.raises(ValueError, match="declared raw size"):
        decompress_lzfu(comp, max_output=10)
