"""Perceptual image hashes on real decoded pixels: hand-derived bit
patterns on constructed rasters, the invariances the algorithms exist for
(re-encode, NN upscale, global brightness shift), and the banded near-dup
join's exact-recall guarantee at hamming ≤ 3."""

from __future__ import annotations

import pytest

from hbase_observer_es_spark.operators.hammingband import BAND_BITS, N_BANDS
from attic.operators.imagehash import (
    _to_i64,
    average_hash,
    dhash,
    hamming64,
    image_hashes_frame,
    image_near_dups,
    luma_raster,
)
from hbase_observer_es_spark.operators.png import (
    PngImage,
    decode_png,
    encode_png,
    resize_nearest,
)


def _gray(rows: list[bytes]) -> PngImage:
    w, h = len(rows[0]), len(rows)
    return PngImage(w, h, 8, 0, 1, w, b"".join(rows), None)


def _rgb(rows: list[bytes]) -> PngImage:
    w, h = len(rows[0]) // 3, len(rows)
    return PngImage(w, h, 8, 2, 3, w * 3, b"".join(rows), None)


# -------------------------------------------------------------- hand goldens


def test_ahash_half_bright_half_dark_hand_derived():
    """Top 4 rows luma 200, bottom 4 rows luma 10: mean = 105, so the top
    32 row-major bits are 1 -> 0xFFFFFFFF00000000."""
    img = _gray([bytes([200] * 8)] * 4 + [bytes([10] * 8)] * 4)
    assert average_hash(img) == 0xFFFFFFFF00000000


def test_ahash_flat_image_is_zero():
    """Strict > mean: a flat image has no pixel above its mean."""
    assert average_hash(_gray([bytes([77] * 8)] * 8)) == 0


def test_dhash_horizontal_gradient_all_ones_flat_zero():
    grad = _gray([bytes(range(10, 10 + 9))] * 8)  # 9 wide, rising
    assert dhash(grad) == (1 << 64) - 1
    assert dhash(_gray([bytes([50] * 9)] * 8)) == 0


def test_luma_bt601_integer_weights():
    # pure red/green/blue single pixels: (299, 587, 114) via //1000
    red = _rgb([bytes([255, 0, 0])])
    green = _rgb([bytes([0, 255, 0])])
    blue = _rgb([bytes([0, 0, 255])])
    assert luma_raster(red) == [(255 * 299) // 1000]
    assert luma_raster(green) == [(255 * 587) // 1000]
    assert luma_raster(blue) == [(255 * 114) // 1000]


def test_luma_16bit_and_palette_rescale():
    import struct

    deep = PngImage(1, 1, 16, 0, 1, 2, struct.pack(">H", 0xFFFF), None)
    assert luma_raster(deep) == [255]
    pal = PngImage(1, 1, 8, 3, 1, 1, b"\x01", ((0, 0, 0), (255, 255, 255)))
    assert luma_raster(pal) == [255]  # weights sum to exactly 1000


# ------------------------------------------------------------- invariances


def _checker(n=16) -> PngImage:
    rows = [
        bytes((40 if (x // 2 + y // 2) % 2 else 215) for x in range(n))
        for y in range(n)
    ]
    return _gray(rows)


def test_hash_invariant_under_reencode_filters():
    img = _checker()
    for mode in (0, 2, "adaptive"):
        again = decode_png(encode_png(img, filter_mode=mode))
        assert average_hash(again) == average_hash(img)
        assert dhash(again) == dhash(img)


def test_hash_invariant_under_exact_nn_upscale():
    """2x NN upscale then hash: the 8x8 floor grid lands on original
    pixels, so the fingerprint is identical — the 'same picture, larger
    file' case the hash exists for."""
    img = _checker()
    up = resize_nearest(img, 32, 32)
    assert average_hash(up) == average_hash(img)
    assert dhash(up) == dhash(img)


def test_hash_invariant_under_global_brightness_shift():
    img = _checker()
    brighter = _gray(
        [
            bytes(min(255, b + 20) for b in img.raw[y * 16 : (y + 1) * 16])
            for y in range(16)
        ]
    )
    assert average_hash(brighter) == average_hash(img)
    assert dhash(brighter) == dhash(img)


def test_small_perturbation_small_hamming():
    img = _checker()
    raw = bytearray(img.raw)
    # blow out one 2x2 block (one 8x8 cell) to the opposite extreme
    for y in (0, 1):
        for x in (0, 1):
            raw[y * 16 + x] = 255 if raw[y * 16 + x] < 128 else 0
    tweaked = _gray([bytes(raw[y * 16 : (y + 1) * 16]) for y in range(16)])
    d = hamming64(average_hash(img), average_hash(tweaked))
    assert 1 <= d <= 3


# ------------------------------------------------------- near-dup banding


def test_near_dups_exact_at_threshold_and_band_semantics(spark):
    base = 0x123456789ABCDEF0
    rows = [
        (1, _to_i64(base)),
        (2, _to_i64(base ^ 0b111)),          # hamming 3 -> pair
        (3, _to_i64(base ^ 0b11110)),        # hamming 4 vs base -> filtered;
        #   but vs doc 2: xor 0b11001 -> hamming 3 -> a REAL pair
        (4, _to_i64(base ^ ((1 << 0) | (1 << 16) | (1 << 32) | (1 << 48)))),
        # ^ hamming 4 spread over all 4 bands -> no band matches base
        (5, _to_i64(base)),                  # hamming 0 -> pair
    ]
    hashes = spark.createDataFrame(rows, "doc_id long, ahash long")
    got = {
        (r.a_id, r.b_id): r.hamming
        for r in image_near_dups(hashes).collect()
    }
    assert got == {(1, 2): 3, (1, 5): 0, (2, 5): 3, (2, 3): 3}


def test_near_dups_negative_int64_hashes(spark):
    """Top-bit-set hashes arrive as negative int64; shiftrightunsigned
    banding and XOR bit_count must treat them as raw bits."""
    h = 0xFFFFFFFF00000000
    rows = [(1, _to_i64(h)), (2, _to_i64(h ^ 1))]
    hashes = spark.createDataFrame(rows, "doc_id long, ahash long")
    got = image_near_dups(hashes).collect()
    assert [(r.a_id, r.b_id, r.hamming) for r in got] == [(1, 2, 1)]


def test_threshold_above_pigeonhole_guarantee_refused(spark):
    hashes = spark.createDataFrame([(1, 0)], "doc_id long, ahash long")
    with pytest.raises(ValueError, match=r"breaks the 4-band pigeonhole"):
        image_near_dups(hashes, threshold=N_BANDS)


def test_band_constants_cover_64_bits():
    assert N_BANDS * BAND_BITS == 64


# ------------------------------------------------- the Spark hashing stage


def test_image_hashes_frame_matches_local(spark):
    imgs = {
        10: _checker(),
        11: _gray([bytes([200] * 8)] * 4 + [bytes([10] * 8)] * 4),
        12: _rgb([bytes([255, 0, 0, 0, 255, 0, 0, 0, 255] * 3)] * 9),
    }
    df = spark.createDataFrame(
        [(k, encode_png(v)) for k, v in imgs.items()],
        "doc_id long, payload binary",
    )
    got = {r.doc_id: (r.ahash, r.dhash) for r in image_hashes_frame(df).collect()}
    assert got == {
        k: (_to_i64(average_hash(v)), _to_i64(dhash(v))) for k, v in imgs.items()
    }
    plan = image_hashes_frame(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # hashing is map-only beside the scan


def test_end_to_end_reencoded_thumbnails_cluster(spark):
    """The production composition: PNG payloads -> hashes (mapInPandas)
    -> banded near-dup join. A re-encoded and a 2x-upscaled copy of the
    same picture must pair with the original at hamming 0."""
    img = _checker()
    payloads = [
        (1, encode_png(img)),
        (2, encode_png(img, filter_mode=2)),
        (3, encode_png(resize_nearest(img, 32, 32))),
        (4, encode_png(_gray([bytes(range(16))] * 16))),  # unrelated
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    pairs = {
        (r.a_id, r.b_id)
        for r in image_near_dups(image_hashes_frame(df)).collect()
    }
    assert {(1, 2), (1, 3), (2, 3)} <= pairs
    assert not any(4 in p for p in pairs)


def test_cross_format_near_dup_png_vs_jpeg(spark):
    """The SAME picture as a PNG and as a quality-95 JPEG must meet in
    the banded join within the hamming threshold — the 'same image,
    different format' dedup story, on real codecs end to end."""
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage, encode_png

    w = h = 32
    raw = bytes(
        v for y in range(h) for x in range(w)
        for v in ((x * 8) % 256, (y * 8) % 256, ((x + y) * 4) % 256)
    )
    img = PngImage(w, h, 8, 2, 3, w * 3, raw, None)
    rows = [(1, encode_png(img)), (2, encode_jpeg(img, quality=95))]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    pairs = image_near_dups(image_hashes_frame(df)).collect()
    assert len(pairs) == 1 and pairs[0].a_id == 1 and pairs[0].b_id == 2
