"""Perceptual image hashing + near-duplicate detection on REAL pixels.

The dedup suite (``operators/dedup.py``) covers text; a multimodal corpus
needs the image twin — "same picture, different file" (re-encoded,
re-filtered, slightly rescaled thumbnails) that byte-level exact dedup
cannot see. Both fingerprints here are the standard public algorithms,
computed over pixels the from-spec PNG decoder (``operators/png.py``)
actually reconstructs:

* **average hash (aHash)**: NN-resize to 8×8, integer BT.601 luma, one bit
  per pixel — above the floor-mean or not — packed row-major MSB-first
  into an int64;
* **difference hash (dHash)**: NN-resize to 9×8, bit = left-pixel luma <
  right-pixel luma per horizontal neighbor — gradient direction, robust to
  global brightness shifts that move every aHash bit together.

Everything is integer arithmetic (floor divisions, no float luma), so a
fingerprint is bit-reproducible across hosts and mirrorable by a bit-exact
Python model in tests (the linededup/PQ discipline — DuckDB cannot inflate
PNGs, so the oracle is the model, not SQL).

Near-dup candidate generation delegates to the ONE banded hamming join
(``operators/hammingband.py`` — 4 × 16-bit bands, exact for distance ≤ 3,
JVM-side verify). At 100 TB: hashing is the only Python stage
(mapInPandas beside the decode, payloads never shuffle).

Reference parity: none — beyond-reference multimodal-pipeline surface
(SURVEY §2-D), composing the r11 real codec with the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hbase_observer_es_spark.operators.hammingband import HAMMING_THRESHOLD, _to_i64, hash_near_dups
from hbase_observer_es_spark.operators.png import PngImage, resize_nearest

HASH_SIZE = 8  # 8x8 -> 64-bit fingerprints

# BT.601 integer luma weights, scaled by 1000 (floor division keeps the
# whole pipeline in integers)
_LUMA_R, _LUMA_G, _LUMA_B = 299, 587, 114


def luma_raster(img: PngImage) -> list[int]:
    """Per-pixel 0..255 integer luma, row-major. Gray uses the sample
    directly, RGB(A) the BT.601 weighted sum (alpha ignored — a perceptual
    hash describes the composited picture, and the corpus convention is
    opaque thumbnails), palette resolves through PLTE first. Sub-byte and
    16-bit samples rescale to 0..255 by exact integer ratio."""
    maxv = (1 << img.bit_depth) - 1
    out = []
    for y in range(img.height):
        for x in range(img.width):
            px = img.pixel(x, y)  # palette already resolved to RGB here
            if img.color_type == 3 or len(px) >= 3:
                r, g, b = px[0], px[1], px[2]
                v = (r * _LUMA_R + g * _LUMA_G + b * _LUMA_B) // 1000
                scale_max = maxv if img.color_type != 3 else 255
            else:
                v = px[0]
                scale_max = maxv
            out.append(v if scale_max == 255 else (v * 255) // scale_max)
    return out


def average_hash(img: PngImage, hash_size: int = HASH_SIZE) -> int:
    """aHash: bit=1 where the downsampled pixel's luma EXCEEDS the
    floor-mean (strict >, so a flat image hashes to 0 — deterministic tie
    handling), packed row-major MSB-first."""
    small = resize_nearest(img, hash_size, hash_size)
    lum = luma_raster(small)
    mean = sum(lum) // len(lum)
    h = 0
    for v in lum:
        h = (h << 1) | (1 if v > mean else 0)
    return h


def dhash(img: PngImage, hash_size: int = HASH_SIZE) -> int:
    """dHash: resize to (hash_size+1) × hash_size, bit=1 where
    luma(x) < luma(x+1) (rising gradient), packed row-major MSB-first."""
    small = resize_nearest(img, hash_size + 1, hash_size)
    lum = luma_raster(small)
    w = hash_size + 1
    h = 0
    for y in range(hash_size):
        row = lum[y * w : (y + 1) * w]
        for x in range(hash_size):
            h = (h << 1) | (1 if row[x] < row[x + 1] else 0)
    return h


def hamming64(a: int, b: int) -> int:
    return ((a ^ b) & 0xFFFFFFFFFFFFFFFF).bit_count()


def image_hashes_frame(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, ahash, dhash) over a binary image column via mapInPandas —
    the only Python stage of the near-dup pipeline. Payloads dispatch by
    magic (PNG or baseline JPEG — ``jpeg.decode_image``), so "same
    picture, different FORMAT" pairs land in the same fingerprint space.
    int64 note: hashes are emitted as SIGNED int64 (the raw 64 bits
    two's-complement), which is lossless and keeps Spark/DuckDB/Arrow
    types exact; XOR/bit_count are sign-agnostic."""
    import pandas as pd

    from hbase_observer_es_spark.operators.jpeg import decode_image

    def extract(batches):
        for pdf in batches:
            ids, ah, dh = [], [], []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                img = decode_image(bytes(payload), origin=str(key))
                ids.append(key)
                ah.append(_to_i64(average_hash(img)))
                dh.append(_to_i64(dhash(img)))
            yield pd.DataFrame({id_col: ids, "ahash": ah, "dhash": dh})

    return df.mapInPandas(extract, f"{id_col} long, ahash long, dhash long")


def image_near_dups(
    hashes: DataFrame,
    hash_col: str = "ahash",
    id_col: str = "doc_id",
    threshold: int = HAMMING_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs (a_id < b_id, hamming ≤ threshold) from a hash frame
    — delegates to the one banded hamming join (``hammingband.py``)."""
    return hash_near_dups(hashes, hash_col, id_col, threshold, "imagehash_near_dups")
