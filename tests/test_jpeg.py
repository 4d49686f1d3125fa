"""Baseline JPEG codec vs ITU-T T.81: hand-assembled marker/entropy byte
streams with hand-derived expected pixels (the PNG/WAV/Avro golden
discipline), encoder round-trips, refusals by name, and composition with
the existing pixel stack."""

from __future__ import annotations

import math
import struct

import pytest

from hbase_observer_es_spark.operators.jpeg import (
    _A,
    ZIGZAG,
    decode_jpeg,
    encode_jpeg,
    looks_like_jpeg,
)
from hbase_observer_es_spark.operators.png import PngImage

# ------------------------------------------------------------ table pins


def test_idct_constants_match_float_derivation():
    """The hardcoded fixed-point table IS round(a(u)·cos((2x+1)uπ/16)·2^13)."""
    for u in range(8):
        a = (1 / math.sqrt(2)) if u == 0 else 1.0
        for x in range(8):
            want = round(a * math.cos((2 * x + 1) * u * math.pi / 16) * 8192)
            assert _A[u][x] == want, (u, x)


def test_zigzag_known_entries():
    # the spec's scan order, spot-pinned at the corners and turns
    assert ZIGZAG[:10] == (0, 1, 8, 16, 9, 2, 3, 10, 17, 24)
    assert ZIGZAG[63] == 63 and ZIGZAG[33] == 42 and ZIGZAG[35] == 56
    assert sorted(ZIGZAG) == list(range(64))


# --------------------------------------------------- hand-built streams


def _seg(marker: int, body: bytes) -> bytes:
    return b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body


def _dqt_all16() -> bytes:
    return _seg(0xDB, bytes([0]) + bytes([16] * 64))


def _dht(tc: int, th: int, bits: list, vals: bytes) -> bytes:
    b = [0] * 16
    for length, count in bits:
        b[length - 1] = count
    return _seg(0xC4, bytes([(tc << 4) | th]) + bytes(b) + vals)


# single-symbol tables: DC code '0' -> category 3, AC code '0' -> EOB
_DHT_DC3 = _dht(0, 0, [(1, 1)], bytes([3]))
_DHT_EOB = _dht(1, 0, [(1, 1)], bytes([0x00]))


def _gray_dc_only(width: int, height: int) -> bytes:
    """One 8x8 grayscale block, DC diff +5, q=16: coefficient 80, flat
    pixel ((80·5793² + 2^27) >> 28) + 128 = 138 — fully hand-derived."""
    sof = _seg(0xC0, struct.pack(">BHHB", 8, height, width, 1) + bytes([1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # bits: DC '0' + magnitude '101' (EXTEND(5,3)=5) + EOB '0' -> 01010 + pad 111
    entropy = bytes([0b01010111])
    return b"\xff\xd8" + _dqt_all16() + sof + _DHT_DC3 + _DHT_EOB + sos + entropy + b"\xff\xd9"


def test_dc_only_gray_block_exact():
    img = decode_jpeg(_gray_dc_only(8, 8))
    assert (img.width, img.height, img.color_type, img.channels) == (8, 8, 0, 1)
    assert set(img.raw) == {138}


def test_dc_only_crop_to_declared_size():
    """Declared 5x6 inside one padded block: raw is cropped, still flat."""
    img = decode_jpeg(_gray_dc_only(5, 6))
    assert (img.width, img.height, len(img.raw)) == (5, 6, 30)
    assert set(img.raw) == {138}


def test_single_ac_coefficient_matches_float_idct():
    """DC 0 plus one AC coefficient (zigzag k=1 -> natural (0,1)) with
    value 4·16=64: pixels must equal the independently-computed float
    IDCT within ±1 (the 13-bit fixed-point contract)."""
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # DC: category 0 needs its own code — table with two symbols:
    # '0' -> 0, '10' -> 3 (unused); AC table: '0' -> 0x03 (run 0, size 3),
    # '10' -> EOB
    dht_dc = _dht(0, 0, [(1, 1), (2, 1)], bytes([0, 3]))
    dht_ac = _dht(1, 0, [(1, 1), (2, 1)], bytes([0x03, 0x00]))
    # bits: DC '0'; AC '0' + '100' (EXTEND(4,3)=4); EOB '10' -> 0 0100 10 + 1
    entropy = bytes([0b00100101])
    data = (
        b"\xff\xd8" + _dqt_all16() + sof + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    for y in range(8):
        for x in range(8):
            want = 0.0
            # S(0,1) = 64; s(x,y) = (1/4)·a(0)a(1)·64·cos((2x+1)π/16)
            want = 0.25 * (1 / math.sqrt(2)) * 64 * math.cos((2 * x + 1) * math.pi / 16)
            got = img.raw[y * 8 + x]
            assert abs(got - (128 + want)) <= 1.0, (x, y, got, 128 + want)


def test_yuv420_flat_color_mcu():
    """Hand-built 16x16 4:2:0: four Y blocks (DC diff 5 then three zero
    diffs) + flat Cb/Cr at zero -> every pixel exactly (138, 138, 138);
    exercises interleaved MCU order, per-component DC prediction, and
    chroma upsampling."""
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0])  # Y 2x2
        + bytes([2, 0x11, 0])  # Cb 1x1
        + bytes([3, 0x11, 0]),  # Cr 1x1
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    # DC table: '00' -> 0, '01' -> 3 ; AC table: '0' -> EOB
    dht_dc = _dht(0, 0, [(2, 2)], bytes([0, 3]))
    # Y1: 01 101 0 | Y2-4: 00 0 ×3 | Cb: 00 0 | Cr: 00 0  = 21 bits + 111
    entropy = bytes([0b01101000, 0b00000000, 0b00000111])
    data = (
        b"\xff\xd8" + _dqt_all16() + sof + dht_dc + _DHT_EOB + sos + entropy + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert (img.width, img.height, img.color_type, img.channels) == (16, 16, 2, 3)
    assert set(img.raw[0::3]) == {138}
    assert set(img.raw[1::3]) == {138}
    assert set(img.raw[2::3]) == {138}


def test_restart_markers_reset_prediction():
    """8x16 grayscale with DRI=1: two MCUs separated by RST0; each block
    encodes the SAME absolute DC as a fresh diff (prediction reset), so
    both decode flat 138. The marker sequence is verified."""
    dri = _seg(0xDD, struct.pack(">H", 1))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 16, 8, 1) + bytes([1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    blk = bytes([0b01010111])  # '0' + '101' + EOB '0' + pad
    data = (
        b"\xff\xd8" + _dqt_all16() + dri + sof + _DHT_DC3 + _DHT_EOB + sos
        + blk + b"\xff\xd0" + blk + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert set(img.raw) == {138}

    wrong = data.replace(b"\xff\xd0", b"\xff\xd3")
    with pytest.raises(ValueError, match=r"expected RST0.*found 0xFFD3"):
        decode_jpeg(wrong)


def test_ff00_stuffing_consumed_as_data():
    """A stuffed 0xFF00 inside the entropy segment is literal data, not a
    marker: appending one after the single MCU's bits must not disturb
    the decode (the reader consumes only what the MCU count demands; the
    encoder round-trip tests exercise stuffing on the write side)."""
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    entropy = bytes([0b01010111, 0xFF, 0x00])
    data = (
        b"\xff\xd8" + _dqt_all16() + sof + _DHT_DC3 + _DHT_EOB + sos + entropy + b"\xff\xd9"
    )
    assert set(decode_jpeg(data).raw) == {138}


# ------------------------------------------------------------- refusals


def _valid_gray() -> bytes:
    return _gray_dc_only(8, 8)


def test_looks_like_jpeg():
    assert looks_like_jpeg(_valid_gray())
    assert not looks_like_jpeg(b"\x89PNG")


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: b"\x00" + d[1:], r"not a JPEG"),
        # SOF2 now decodes for real; a baseline-shaped full scan inside a
        # progressive frame violates the annex-G DC-scan constraint
        (lambda d: d.replace(b"\xff\xc0", b"\xff\xc2"),
         r"progressive DC scan must have Se=0"),
        # SOF9 decodes for real since r16 (tests/test_jpeg_arith.py);
        # the differential arithmetic processes keep refusing by name
        (lambda d: d.replace(b"\xff\xc0", b"\xff\xcd"),
         r"differential arithmetic sequential"),
        (lambda d: d.replace(b"\xff\xc0", b"\xff\xc3"), r"lossless \(SOF3\)"),
        (lambda d: d[: d.index(b"\xff\xda")] + b"\xff\xd9", r"EOI before any scan"),
        (lambda d: d[:-3], r"entropy data exhausted"),
    ],
)
def test_refusals(mutate, msg):
    with pytest.raises(ValueError, match=msg):
        decode_jpeg(mutate(_valid_gray()))


def test_refuse_12_bit_and_cmyk():
    body = struct.pack(">BHHB", 12, 8, 8, 1) + bytes([1, 0x11, 0])
    data = b"\xff\xd8" + _dqt_all16() + _seg(0xC0, body)
    with pytest.raises(ValueError, match=r"12-bit precision"):
        decode_jpeg(data + b"\xff\xd9")
    body4 = struct.pack(">BHHB", 8, 8, 8, 4) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0, 4, 0x11, 0]
    )
    data4 = b"\xff\xd8" + _dqt_all16() + _seg(0xC0, body4)
    with pytest.raises(ValueError, match=r"4-component \(CMYK/YCCK\)"):
        decode_jpeg(data4 + b"\xff\xd9")


def test_refuse_zero_quantizer():
    bad = _seg(0xDB, bytes([0]) + bytes([16] * 63) + b"\x00")
    data = _valid_gray().replace(_dqt_all16(), bad)
    with pytest.raises(ValueError, match=r"zero\s+quantizer"):
        decode_jpeg(data)


# ----------------------------------------------------------- round-trip


def _gradient_gray(w: int, h: int) -> PngImage:
    raw = bytes(((x * 7 + y * 13) % 200 + 20) for y in range(h) for x in range(w))
    return PngImage(w, h, 8, 0, 1, w, raw, None)


def _blocks_rgb(w: int, h: int) -> PngImage:
    raw = bytearray()
    for y in range(h):
        for x in range(w):
            raw += bytes(
                (
                    200 if x < w // 2 else 40,
                    (x * 11 + y * 3) % 180 + 30,
                    60 if y < h // 2 else 220,
                )
            )
    return PngImage(w, h, 8, 2, 3, w * 3, bytes(raw), None)


def test_roundtrip_gray_quality100_tight():
    img = _gradient_gray(24, 17)
    out = encode_jpeg(img, quality=100)
    assert out == encode_jpeg(img, quality=100)  # deterministic bytes
    back = decode_jpeg(out)
    assert (back.width, back.height, back.color_type) == (24, 17, 0)
    diffs = [abs(a - b) for a, b in zip(back.raw, img.raw)]
    # the worst pixels sit in the edge-replicated padding blocks (17 is
    # not a block multiple) — inherent JPEG edge behavior, not transform
    # error; the mean bound is what catches an orientation/transpose bug
    assert max(diffs) <= 4 and sum(diffs) / len(diffs) <= 1.0, (
        max(diffs), sum(diffs) / len(diffs))


def test_roundtrip_rgb_quality100():
    img = _blocks_rgb(16, 16)
    back = decode_jpeg(encode_jpeg(img, quality=100))
    assert (back.width, back.height, back.color_type) == (16, 16, 2)
    diffs = [abs(a - b) for a, b in zip(back.raw, img.raw)]
    # saturated step edges lose a few counts to 8-bit YCbCr quantization
    # (G mixes both chromas); the mean bound catches structural bugs
    assert max(diffs) <= 12 and sum(diffs) / len(diffs) <= 2.0, (
        max(diffs), sum(diffs) / len(diffs))


def test_roundtrip_quality_ladder_monotone_size():
    img = _gradient_gray(32, 32)
    sizes = [len(encode_jpeg(img, quality=q)) for q in (30, 60, 90)]
    assert sizes == sorted(sizes), sizes
    for q in (30, 60, 90):
        back = decode_jpeg(encode_jpeg(img, quality=q))
        assert (back.width, back.height) == (32, 32)


def test_flat_images_stay_flat_through_lossy():
    for v in (0, 50, 128, 255):
        img = PngImage(8, 8, 8, 0, 1, 8, bytes([v] * 64), None)
        back = decode_jpeg(encode_jpeg(img, quality=85))
        vals = set(back.raw)
        assert len(vals) == 1 and abs(next(iter(vals)) - v) <= 1, (v, vals)


def test_encoder_refuses_unsupported_inputs():
    pal = PngImage(2, 2, 8, 3, 1, 2, b"\x00\x01\x01\x00", ((0, 0, 0), (255, 255, 255)))
    with pytest.raises(ValueError, match=r"8-bit gray or rgb"):
        encode_jpeg(pal)
    with pytest.raises(ValueError, match=r"quality 0 outside"):
        encode_jpeg(_gradient_gray(8, 8), quality=0)


def test_composes_with_existing_pixel_stack():
    """decode_jpeg output is a PngImage: resize + PNG re-encode + the
    perceptual hash all work unchanged, and the JPEG copy of an image
    hashes within the near-dup threshold of its PNG original."""
    from attic.operators.imagehash import average_hash, hamming64
    from hbase_observer_es_spark.operators.png import (
        decode_png,
        encode_png,
        resize_nearest,
    )

    img = _blocks_rgb(32, 24)
    jback = decode_jpeg(encode_jpeg(img, quality=95))
    png_rt = decode_png(encode_png(jback))
    assert png_rt.raw == jback.raw
    small = resize_nearest(jback, 8, 8)
    assert (small.width, small.height) == (8, 8)
    assert hamming64(average_hash(img), average_hash(jback)) <= 3


def test_decode_image_magic_dispatch():
    from hbase_observer_es_spark.operators.jpeg import decode_image
    from hbase_observer_es_spark.operators.png import encode_png

    gray = _gradient_gray(8, 8)
    assert decode_image(encode_png(gray)).raw == gray.raw
    j = decode_image(encode_jpeg(gray, quality=100))
    assert (j.width, j.height) == (8, 8)
    with pytest.raises(ValueError, match=r"none of PNG/JPEG/GIF/BMP/TIFF"):
        decode_image(b"\x00\x01\x02\x03 mystery")


def test_yuv420_nonneutral_chroma_hand_derived():
    """Same 4:2:0 MCU but Cb carries DC diff +5 (coefficient 80 -> plane
    value 138): every pixel must be exactly
    R = 138, G = 138 - ((22553·10 + 32768) >> 16) = 135,
    B = 138 + ((116130·10 + 32768) >> 16) = 156 — the fixed-point color
    transform and chroma upsampling pinned by hand."""
    sof = _seg(
        0xC0,
        struct.pack(">BHHB", 8, 16, 16, 3)
        + bytes([1, 0x22, 0])
        + bytes([2, 0x11, 0])
        + bytes([3, 0x11, 0]),
    )
    sos = _seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    dht_dc = _dht(0, 0, [(2, 2)], bytes([0, 3]))
    # Y1 '01'+'101'+'0' | Y2-4 '00'+'0' x3 | Cb '01'+'101'+'0' | Cr '00'+'0'
    entropy = bytes([0x68, 0x00, 0xD0])
    data = (
        b"\xff\xd8" + _dqt_all16() + sof + dht_dc + _DHT_EOB + sos + entropy + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert set(img.raw[0::3]) == {138}
    assert set(img.raw[1::3]) == {135}
    assert set(img.raw[2::3]) == {156}


def test_truncated_segment_bodies_fail_with_origin():
    """Cut-short SOF/DRI/SOS bodies must die as the module's contextual
    ValueError, never a bare struct.error."""
    sof_trunc = b"\xff\xd8" + _dqt_all16() + _seg(0xC0, b"\x08\x00")
    with pytest.raises(ValueError, match=r"jpeg doc-3: SOF segment body truncated"):
        decode_jpeg(sof_trunc + b"\xff\xd9", origin="doc-3")
    sof_comp = b"\xff\xd8" + _dqt_all16() + _seg(
        0xC0, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1])
    )
    with pytest.raises(ValueError, match=r"SOF component list truncated"):
        decode_jpeg(sof_comp + b"\xff\xd9")
    dri_trunc = b"\xff\xd8" + _dqt_all16() + _seg(0xDD, b"\x01")
    with pytest.raises(ValueError, match=r"DRI segment body truncated"):
        decode_jpeg(dri_trunc + b"\xff\xd9")
    good = _valid_gray()
    sos_at = good.index(b"\xff\xda")
    sos_trunc = good[:sos_at] + _seg(0xDA, bytes([1, 1])) + good[-3:]
    with pytest.raises(ValueError, match=r"SOS header truncated"):
        decode_jpeg(sos_trunc)


def test_fill_bytes_before_restart_marker_are_legal():
    """T.81 B.1.1.2: any number of 0xFF fill bytes may pad a marker —
    a restart preceded by extra 0xFFs must decode, not refuse."""
    dri = _seg(0xDD, struct.pack(">H", 1))
    sof = _seg(0xC0, struct.pack(">BHHB", 8, 16, 8, 1) + bytes([1, 0x11, 0]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    blk = bytes([0b01010111])
    data = (
        b"\xff\xd8" + _dqt_all16() + dri + sof + _DHT_DC3 + _DHT_EOB + sos
        + blk + b"\xff\xff\xff\xd0" + blk + b"\xff\xd9"
    )
    assert set(decode_jpeg(data).raw) == {138}


def test_fdct_quant_rounds_half_away_from_zero_on_negatives():
    """Regression: the quantizer used (2*s - q) // (2*q) on negative
    coefficients, but Python's // FLOORS (it does not truncate), so
    every negative DCT coefficient landed one quant step too large in
    magnitude (s/q = -1.0 quantized to -2, -0.25 to -1). Half-away
    rounding is an ODD function — negating the input block (DCT is
    linear) must exactly negate every quantized coefficient."""
    import random

    from hbase_observer_es_spark.operators.jpeg import _fdct_quant

    rng = random.Random(7)
    for _ in range(5):
        blk = [rng.randint(-128, 127) for _ in range(64)]
        qt = [rng.randint(1, 99) for _ in range(64)]
        pos = _fdct_quant(blk, qt)
        neg = _fdct_quant([-v for v in blk], qt)
        assert all(a == -b for a, b in zip(pos, neg)), (blk, qt)


def test_roundtrip_quality85_smooth_gradient_tight():
    """Quality < 100 round-trip pin (the q100 tests run with all-ones
    quant tables and so never exercised the negative-coefficient
    rounding path): a smooth non-wrapping gradient survives q85 within
    2 levels per pixel."""
    w = h = 32
    raw = bytes(x * 4 + y * 3 for y in range(h) for x in range(w))
    img = PngImage(w, h, 8, 0, 1, w, raw, None)
    back = decode_jpeg(encode_jpeg(img, quality=85))
    err = max(abs(a - b) for a, b in zip(back.raw, img.raw))
    assert err <= 3, err


def test_sniff_format_guards_ascii_magics():
    """UTF-8 prose that happens to start with 'BM' or a GIF version string
    must sniff as None (→ fake-codec fallback in the registered queries),
    while every genuinely decodable payload sniffs as its format — the
    structural guards have zero false negatives by construction."""
    from hbase_observer_es_spark.operators.gif import GIF_MAGICS
    from hbase_observer_es_spark.operators.jpeg import sniff_format
    from hbase_observer_es_spark.operators.png import PngImage, encode_png

    # prose false-positive candidates: all must sniff None
    assert sniff_format(b"BMW motorcycles are great. " + b"x" * 60) is None
    assert sniff_format(b"GIF89a is an image format from 1989." + b"x" * 20) is None
    assert sniff_format(b"BM" + b" " * 52) is None  # reserved bytes not zero
    # real payloads: every decodable format sniffs correctly
    gray = PngImage(4, 4, 8, 0, 1, 4, bytes(16), None)
    assert sniff_format(encode_png(gray)) == "png"
    assert sniff_format(encode_jpeg(gray, quality=90)) == "jpeg"
    gif = (
        b"GIF89a\x01\x00\x01\x00\x80\x00\x00"
        b"\x00\x00\x00\xff\xff\xff"
        b",\x00\x00\x00\x00\x01\x00\x01\x00\x00"
        b"\x02\x02\x44\x01\x00;"
    )
    assert gif[:6] in GIF_MAGICS and sniff_format(gif) == "gif"
    # webp guard: the binary RIFF size must equal len-8 exactly
    good_webp = b"RIFF" + (12).to_bytes(4, "little") + b"WEBPVP8 \x00\x00\x00\x00"
    assert sniff_format(good_webp) == "webp"
    assert sniff_format(b"RIFF\x00\x00\x00\x00WEBPVP8 ") is None
    assert sniff_format(b"\x00\x01\x02\x03 mystery") is None


# -------------------------------------------------------------- 12-bit


def _sof12(marker: int, width: int = 8, height: int = 8) -> bytes:
    return _seg(
        marker, struct.pack(">BHHB", 12, height, width, 1) + bytes([1, 0x11, 0])
    )


def test_12bit_sof1_dc_only_exact():
    """12-bit extended sequential (SOF1), one block, DC diff +5, q=16:
    coefficient 80, 12-bit flat sample ((80·5793² + 2^27) >> 28) + 2048
    = 2058, rendered 2058 >> 4 = 128 — fully hand-derived."""
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    entropy = bytes([0b01010111])  # DC '0' + '101', EOB '0', pad 111
    data = (
        b"\xff\xd8" + _dqt_all16() + _sof12(0xC1)
        + _DHT_DC3 + _DHT_EOB + sos + entropy + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert (img.width, img.height, img.channels) == (8, 8, 1)
    assert set(img.raw) == {128}


def test_12bit_dc_category_13_clamps_at_12bit_range():
    """DC category 13 (invalid at 8-bit, legal at 12): diff +4096, q=16
    → coefficient 65536 → IDCT 8193+2048 clamps to 4095 → renders 255.
    The SAME entropy stream at 8-bit precision refuses on the category
    limit — the precision-dependent bound, both directions."""
    dht_dc13 = _dht(0, 0, [(1, 1)], bytes([13]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    # DC '0' + 13 magnitude bits 1000000000000 + EOB '0' + pad '1'
    entropy = bytes([0b01000000, 0b00000001])
    tail = dht_dc13 + _DHT_EOB + sos + entropy + b"\xff\xd9"
    img = decode_jpeg(b"\xff\xd8" + _dqt_all16() + _sof12(0xC1) + tail)
    assert set(img.raw) == {255}
    sof8 = _seg(0xC1, struct.pack(">BHHB", 8, 8, 8, 1) + bytes([1, 0x11, 0]))
    with pytest.raises(ValueError, match=r"category 13 exceeds the 8-bit limit 11"):
        decode_jpeg(b"\xff\xd8" + _dqt_all16() + sof8 + tail)


def test_12bit_single_ac_coefficient_matches_float_idct():
    """The 12-bit non-DC path against the independent float IDCT: level
    shift 2048, clamp 4095, then the documented >>4 render map."""
    dht_dc = _dht(0, 0, [(1, 1), (2, 1)], bytes([0, 3]))
    dht_ac = _dht(1, 0, [(1, 1), (2, 1)], bytes([0x03, 0x00]))
    sos = _seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    entropy = bytes([0b00100101])
    data = (
        b"\xff\xd8" + _dqt_all16() + _sof12(0xC1)
        + dht_dc + dht_ac + sos + entropy + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    for y in range(8):
        for x in range(8):
            want = (
                0.25 * (1 / math.sqrt(2)) * 64
                * math.cos((2 * x + 1) * math.pi / 16)
            )
            got = img.raw[y * 8 + x]
            assert abs(got - (2048 + want) / 16) <= 1.1, (x, y, got)


def test_12bit_progressive_scan_script():
    """12-bit progressive (SOF2 is the other frame type T.81 allows at
    12 bits): DC scan then the 1..63 AC band via one EOB — the same
    hand-derived flat 128 as the sequential twin."""
    dc_scan = _seg(0xDA, bytes([1, 1, 0x00, 0, 0, 0])) + bytes([0b01011111])
    ac_scan = _seg(0xDA, bytes([1, 1, 0x00, 1, 63, 0])) + bytes([0b01111111])
    data = (
        b"\xff\xd8" + _dqt_all16() + _sof12(0xC2)
        + _DHT_DC3 + _DHT_EOB + dc_scan + ac_scan + b"\xff\xd9"
    )
    img = decode_jpeg(data)
    assert set(img.raw) == {128}


def test_12bit_sof0_is_structurally_invalid():
    """T.81 table B.2: baseline SOF0 is 8-bit only — a 12-bit SOF0 must
    refuse as corrupt structure, not decode as extended sequential."""
    data = b"\xff\xd8" + _dqt_all16() + _sof12(0xC0) + b"\xff\xd9"
    with pytest.raises(ValueError, match=r"12-bit precision is invalid in a baseline"):
        decode_jpeg(data)
