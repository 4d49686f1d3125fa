"""Banded hamming near-dup join over 64-bit fingerprints — ONE implementation.

The ``q_dedup_simhash_near`` LSH shape, generic over any int64 fingerprint
column: split the hash into ``n_bands`` bands of ``band_bits`` bits, bucket-
join per band, verify candidates with the true hamming distance. Pigeonhole
makes banding EXACT for hamming ≤ n_bands − 1: a pair differing in fewer
bits than there are bands agrees on at least one full band. Image hashes
(``attic/operators/imagehash.py``), audio energy fingerprints
(``attic/operators/audiohash.py``), and the registered SimHash near-dup join
(``dedup.q_dedup_simhash_near``, 4 × 15-bit bands over 60-bit
fingerprints) all delegate here — the min-label-fixpoint consolidation
rule applied before a second copy could drift. Fix banding bugs HERE;
there is no mirror.

At 100 TB: banding is one shuffle on (band, value); with 16-bit bands the
2^16 value space keeps buckets near-singleton for well-mixed fingerprints;
the verify join touches candidates only and computes hamming with
``F.bit_count(a ^ b)`` JVM-side (no Python anywhere in this operator).

Reference parity: none — beyond-reference multimodal-dedup surface
(SURVEY §2-D).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_BANDS, BAND_BITS = 4, 16
HAMMING_THRESHOLD = 3  # banding is exact up to this distance (pigeonhole)


def _to_i64(u: int) -> int:
    """Raw 64 bits → signed int64 (two's-complement) — the lossless form
    fingerprint frames emit so Spark/DuckDB/Arrow types stay exact."""
    return u - (1 << 64) if u >= (1 << 63) else u


def hash_near_dups(
    hashes: DataFrame,
    hash_col: str,
    id_col: str,
    threshold: int,
    persist_key: str,
    n_bands: int = N_BANDS,
    band_bits: int = BAND_BITS,
) -> DataFrame:
    """Near-dup pairs (a_id < b_id, hamming ≤ threshold) from a fingerprint
    frame — pure DataFrame ops. The hash frame is persisted BEFORE the
    self-join: it usually carries a decode mapInPandas stage, and an
    unpersisted self-join would run that Python stage once per side (the
    q_dedup_simhash_near lesson). ``persist_key`` names the call site for
    the persist tracker. Band geometry is a parameter so other banded
    hamming callers (the 4 × 15-bit simhash join) can delegate."""
    if threshold > n_bands - 1:
        raise ValueError(
            f"hash_near_dups: threshold {threshold} > {n_bands - 1} breaks "
            f"the {n_bands}-band pigeonhole guarantee — raise n_bands instead"
        )
    from ..io import persist_tracked

    h = persist_tracked(
        hashes.select(F.col(id_col).alias("id"), F.col(hash_col).alias("h")),
        persist_key,
    )
    mask = (1 << band_bits) - 1
    banded = h.select(
        "id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("h"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bv"),
    ).select("id", "h", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.col("a.h").alias("ha"),
            F.col("b.h").alias("hb"),
        )
        .distinct()  # a pair may collide in several bands
    )
    return (
        cand.withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .where(F.col("hamming") <= threshold)
        .select("a_id", "b_id", "hamming")
    )
