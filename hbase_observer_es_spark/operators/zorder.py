"""Z-order (Morton) multi-column clustering keys for row-group pruning.

At 100 TB the dominant cost of most scans is the bytes the format makes you
read, and the lever is DATA LAYOUT: parquet row-group min/max statistics
prune a predicate only when rows with nearby values sit in the same files.
A single-column sort buys pruning on that one column and destroys it for
every other; the standard multi-dimensional fix (Delta Lake's
``OPTIMIZE ... ZORDER BY``, Iceberg's sort-order z-ordering — both public
designs) maps each row onto a space-filling Z-curve and sorts by the curve
position, so rows close in ANY clustered dimension land close on disk and a
selective predicate on any of them overlaps few row groups.

This module implements that as plain Catalyst column expressions:

* ``quantize`` — linear [lo, hi] → [0, 2^bits) grid cell, clamped at both
  edges, NULL → cell 0 (documented: NULLs cluster with the low edge rather
  than poisoning the whole key). Linear scaling is skew-sensitive by
  construction — a heavy-tailed column wastes grid cells; pre-transform such
  columns (log, rank bucket) or pass explicit ``ranges`` covering the dense
  region. The quantizer is double arithmetic in a FIXED operation order
  (``floor((v - lo) * 2^bits / (hi - lo))``) so an external SQL engine
  replaying the same order reproduces it bit-for-bit (IEEE 754), which is
  what makes the oracle twin below hashable.
* ``z_key`` — bit-interleave of the quantized cells, dimension j taking bit
  positions ``i * ndims + j``: pure shift/and/or expression nodes, entirely
  inside whole-stage codegen, no UDF. ``bits * ndims`` is capped at 63 so
  the key fits a Spark ``bigint`` with the sign bit clear.
* ``zorder_write`` — the layout pass: ``repartitionByRange`` on the key (one
  shuffle, contiguous curve segments per file — range partitioning, not hash,
  because pruning needs each file to own an INTERVAL of the curve) +
  ``sortWithinPartitions`` (no extra shuffle), key dropped before the write
  so the layout is invisible in the schema. Scale posture: the range
  partitioner samples the key column; the only full pass over the data is
  the rewrite itself, which is the point of the operation. Skewed key
  populations are handled by the range sampler (equal-ROWS output files,
  not equal key-space).

``q_zorder_cells`` is the registered fixture twin (lineitem,
``l_partkey`` × ``l_suppkey`` at 4 bits — 256 curve cells) with
``SQL_ZORDER_CELLS`` as its DuckDB mirror replaying the identical quantize
and interleave arithmetic; the oracle sweep checks it, and
``tests/test_zorder.py`` hash-pins it.

Reference parity note: the reference (HBase→ES observer) has no layout
optimizer — this is part of the beyond-reference training-data-pipeline
surface (SURVEY §2-D), in the family of Delta/Iceberg table maintenance.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_Z = "__zkey"


def _validate(n_cols: int, bits: int) -> None:
    if n_cols < 2:
        raise ValueError("z-order needs >= 2 columns (one column is a sort)")
    if bits < 1:
        raise ValueError("bits must be >= 1")
    if bits * n_cols > 63:
        raise ValueError(
            f"bits*ndims = {bits * n_cols} exceeds 63 — the z-key must fit a "
            "non-negative bigint"
        )


def quantize(col: Column, lo: float, hi: float, bits: int) -> Column:
    """Grid cell of ``col`` on a linear [lo, hi] → [0, 2^bits) scale.

    Clamped at both edges (values at or beyond ``hi`` land in the top cell,
    at or below ``lo`` in cell 0), NULL → cell 0. ``lo == hi`` (constant
    column) degenerates to cell 0 for every row — legal, and documented as
    "this column contributes nothing to the curve".
    """
    n_cells = 1 << bits
    if hi < lo:
        raise ValueError(f"quantize range inverted: lo={lo} > hi={hi}")
    if hi == lo:
        return F.lit(0).cast("bigint")
    v = col.cast("double")
    # FIXED operation order — the oracle twin replays exactly this:
    #   floor((v - lo) * n_cells / (hi - lo))
    cell = F.floor(
        (v - F.lit(float(lo)))
        * F.lit(float(n_cells))
        / F.lit(float(hi) - float(lo))
    )
    clamped = F.least(F.greatest(cell, F.lit(0)), F.lit(n_cells - 1))
    # NaN → NULL → cell 0 EXPLICITLY: without this, Spark's floor(NaN) casts
    # to 0 while DuckDB's NaN sorts above every value through least/greatest
    # and lands in the TOP cell — a silent cross-engine divergence. The same
    # guard exists in _sql_quantize; NaN clusters with NULL at the low edge.
    guarded = F.when(F.isnan(v), F.lit(None)).otherwise(clamped)
    return F.coalesce(guarded, F.lit(0)).cast("bigint")


def interleave(cells: list[Column], bits: int) -> Column:
    """Morton interleave: bit ``i`` of dimension ``j`` → key bit
    ``i * ndims + j``. Pure shift/and/or nodes (whole-stage codegen)."""
    _validate(len(cells), bits)
    ndims = len(cells)
    z = F.lit(0).cast("bigint")
    for j, cell in enumerate(cells):
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(cell, i).bitwiseAND(F.lit(1)), i * ndims + j
                ).cast("bigint")
            )
    return z


def z_key(
    cols: list[Column], ranges: list[tuple[float, float]], bits: int
) -> Column:
    """The full clustering key: quantize each column over its range, then
    interleave. ``ranges[j]`` is the (lo, hi) grid extent for ``cols[j]``."""
    if len(cols) != len(ranges):
        raise ValueError(
            f"{len(cols)} columns but {len(ranges)} ranges — one (lo, hi) "
            "pair per clustered column"
        )
    _validate(len(cols), bits)
    cells = [quantize(c, lo, hi, bits) for c, (lo, hi) in zip(cols, ranges)]
    return interleave(cells, bits)


def column_ranges(df: DataFrame, cols: list[str]) -> list[tuple[float, float]]:
    """(min, max) per clustered column in ONE aggregation job. Driver-side
    result is bounded: two scalars per column. NULL min/max (all-NULL column)
    fails loudly — the caller must supply an explicit range for it."""
    from pyspark.sql import types as T

    by_name = {f.name: f.dataType for f in df.schema.fields}
    non_numeric = [
        c
        for c in cols
        if c in by_name and not isinstance(by_name[c], T.NumericType)
    ]
    if non_numeric:
        # without this, a string column casts to all-NULL doubles and the
        # error would steer the user toward an explicit range that silently
        # quantizes every row to cell 0
        raise ValueError(
            f"z-order columns must be numeric; {non_numeric} are "
            f"{[str(by_name[c]) for c in non_numeric]}"
        )
    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"__lo_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"__hi_{c}"))
    row = df.agg(*aggs).collect()[0]
    out = []
    for c in cols:
        lo, hi = row[f"__lo_{c}"], row[f"__hi_{c}"]
        if lo is None or hi is None:
            raise ValueError(
                f"z-order column {c!r} is all-NULL — pass an explicit range"
            )
        out.append((float(lo), float(hi)))
    return out


def zorder_write(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int,
    bits: int = 12,
    ranges: list[tuple[float, float]] | None = None,
) -> dict:
    """Rewrite ``df`` as ``n_files`` parquet files clustered along the
    Z-curve of ``cols``. Returns the layout report (ranges, bits, files).

    Range partitioning (not hash) on the key: pruning requires each output
    file to own a contiguous INTERVAL of the curve, so that a predicate's
    curve cells intersect few files. ``sortWithinPartitions`` then orders
    rows inside each file so row-group (not just file) min/max statistics
    tighten too. One shuffle total; the key column never reaches the files.
    """
    if n_files < 1:
        raise ValueError("n_files must be >= 1")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"z-order columns {missing} not in {df.columns}")
    if _Z in df.columns:
        # withColumn would silently REPLACE the user's column and drop(_Z)
        # would then delete it from the output — refuse rather than lose data
        raise ValueError(
            f"input already has a column named {_Z!r} (the internal key "
            "name) — rename it before the layout pass"
        )
    from pyspark.sql import types as T

    by_name = {f.name: f.dataType for f in df.schema.fields}
    non_numeric = [
        c for c in cols if not isinstance(by_name[c], T.NumericType)
    ]
    if non_numeric:
        raise ValueError(
            f"z-order columns must be numeric; {non_numeric} are "
            f"{[str(by_name[c]) for c in non_numeric]}"
        )
    r = ranges if ranges is not None else column_ranges(df, cols)
    keyed = df.withColumn(_Z, z_key([F.col(c) for c in cols], r, bits))
    (
        keyed.repartitionByRange(n_files, F.col(_Z))
        .sortWithinPartitions(_Z)
        .drop(_Z)
        .write.mode("overwrite")
        .parquet(path)
    )
    # empty range partitions write no part file — report what EXISTS, the
    # way compact_dataset counts staged files, not what was requested
    written = sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )
    return {
        "path": path,
        "columns": list(cols),
        "bits": bits,
        "ranges": [[lo, hi] for lo, hi in r],
        "n_files": len(written),
        "n_files_requested": n_files,
    }


# --------------------------------------------------------- registration twin
#
# Fixture form over lineitem: cluster (l_partkey, l_suppkey) at 4 bits and
# report per-curve-cell occupancy — the layout histogram a maintenance job
# would log. Scalar-only output, <= 256 rows. The ranges come from the DATA
# via the same one-pass agg on both sides so the twin needs no constants.

_ZQ_BITS = 4


def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    ranges = column_ranges(li, ["l_partkey", "l_suppkey"])
    zk = z_key(
        [F.col("l_partkey"), F.col("l_suppkey")], ranges, _ZQ_BITS
    )
    return (
        li.withColumn("z_cell", zk)
        .groupBy("z_cell")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # cast BEFORE the sum: l_quantity is an integral-valued double,
            # and summing doubles is aggregation-order-dependent — per-row
            # bigint cast makes the fold exact integer addition on both
            # engines (the pq.py sq_err lesson applied preemptively)
            F.sum(F.col("l_quantity").cast("bigint")).alias("sum_qty"),
        )
        .orderBy("z_cell")
    )


def _sql_interleave(q1: str, q2: str, bits: int) -> str:
    """The SQL-text mirror of ``interleave`` for two dimensions: same bit →
    position map, same left-to-right OR fold."""
    terms = []
    for j, q in enumerate((q1, q2)):
        for i in range(bits):
            terms.append(f"((({q} >> {i}) & 1) << {i * 2 + j})")
    return " | ".join(terms)


def _sql_quantize(col: str, lo: str, hi: str, bits: int) -> str:
    """SQL mirror of ``quantize`` with the IDENTICAL double operation order
    (sub, mul, div, floor) and edge clamps. ``lo``/``hi`` are SQL
    expressions (the range CTE's columns)."""
    n = 1 << bits
    cell = (
        f"floor((CAST({col} AS DOUBLE) - {lo}) * {float(n)!r} / ({hi} - {lo}))"
    )
    clamped = f"least(greatest({cell}, 0), {n - 1})"
    # NaN guard mirrors quantize(): NaN → NULL → cell 0 (DuckDB would
    # otherwise carry NaN through least/greatest into the top cell)
    guarded = (
        f"CASE WHEN isnan(CAST({col} AS DOUBLE)) THEN NULL ELSE {clamped} END"
    )
    return f"CAST(coalesce({guarded}, 0) AS BIGINT)"


SQL_ZORDER_CELLS = f"""
WITH r AS (
  SELECT CAST(min(l_partkey) AS DOUBLE) AS p_lo,
         CAST(max(l_partkey) AS DOUBLE) AS p_hi,
         CAST(min(l_suppkey) AS DOUBLE) AS s_lo,
         CAST(max(l_suppkey) AS DOUBLE) AS s_hi
  FROM lineitem
),
keyed AS (
  SELECT {_sql_interleave(
      _sql_quantize("l_partkey", "r.p_lo", "r.p_hi", _ZQ_BITS),
      _sql_quantize("l_suppkey", "r.s_lo", "r.s_hi", _ZQ_BITS),
      _ZQ_BITS,
  )} AS z_cell,
         l_quantity
  FROM lineitem, r
)
SELECT z_cell,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM keyed
GROUP BY z_cell
ORDER BY z_cell
"""


QUERIES = {"q_zorder_cells": q_zorder_cells}
ORACLES = {"q_zorder_cells": SQL_ZORDER_CELLS}
