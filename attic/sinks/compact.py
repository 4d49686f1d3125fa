"""Small-file compaction for published parquet datasets (OPTIMIZE).

Every long-running pipeline that lands data incrementally — streaming sinks,
per-key CDC merges, per-batch appends — accretes SMALL FILES, and at 100 TB
small files are a first-order tax: each file costs a task, a footer read,
and an open/close round-trip, so a table that should scan in thousands of
~1 GB splits instead schedules millions of kilobyte tasks. The standard
lakehouse answer (Delta ``OPTIMIZE``, Iceberg ``rewrite_data_files`` — both
public designs) is a maintenance pass that bin-packs small files into
target-size ones WITHOUT changing the data. This module is that pass, with
the verification discipline of this repo's publication sinks:

* **Only the tail is rewritten.** Files already at or above
  ``small_file_bytes`` (default: the target size) pass through untouched —
  the pass reads and shuffles ONLY the small-file set, so its cost scales
  with the fragmentation, not the table. With ``zorder_by`` set the whole
  leaf is rewritten instead: re-clustering is a property of the full leaf,
  and a partial rewrite would interleave clustered and unclustered files.
* **Content preservation is CHECKED, not assumed.** Before the swap, the
  staged output is read back FROM DISK and its row count and
  order-independent multiset fingerprint (sum of per-row ``xxhash64`` over
  all columns in ``decimal(38,0)``, mod 2^64 — the
  ``attic/sinks/dataset_export.py`` construction) must equal the rewrite-set
  input's. Any divergence deletes the staging directory and raises; the
  original files are never touched on a failed verification.
* **Staged commit, single-writer, NO concurrent readers.** Output lands in
  ``_compact_staging/`` (the leading underscore hides it from every
  Spark/Hadoop reader, the ``attic/sinks/wet.py`` rule), and only after
  verification are the rewritten originals removed and the staged files
  installed. The two phases are not jointly atomic on a multi-file
  directory: every row exists as BYTES ON DISK at every instant (the
  staged copy is complete and verified before the first original is
  removed, and a crash in the window leaves it in place — recovery is
  inspecting the loudly-reported staging dir), but a reader scanning the
  leaf DURING the commit window would see a subset, because the staged
  copies are hidden from it by the very rule that protects the write.
  Compaction is a maintenance pass: run it like one, with no concurrent
  readers of the leaf (real lakehouses get concurrent-reader safety from
  snapshot metadata, which a bare parquet directory does not have; the
  install-first ordering would instead show readers DUPLICATE rows —
  strictly worse, because silent). Like the CSV sink's staged commit,
  ``path`` must be on a LOCAL filesystem (``os.replace`` semantics).

``compact_tree`` applies the same pass per LEAF directory of a
hive-partitioned layout (``key=value/.../*.parquet``) — compaction must
never merge across partition boundaries or it would destroy partition
pruning, so each leaf is an independent unit of work.

Scale posture: the driver holds one file listing and one report per leaf —
never row data. The rewrite is one shuffle (round-robin ``repartition`` for
even output sizes; with ``zorder_by``, ``operators/zorder.zorder_write``'s
range partitioning). Output file count = ceil(rewrite-set bytes /
``target_bytes``) — parquet-in, parquet-out with the same codec family
makes input bytes an honest estimator of output bytes.

Reference parity: the reference (HBase→ES CDC glue) has no storage layer at
all — this belongs to the beyond-reference pipeline surface (SURVEY §2-D),
paired with ``operators/zorder.py`` the way Delta pairs OPTIMIZE with
ZORDER BY.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from attic.sinks.dataset_export import _MOD, _fingerprint_expr

STAGING = "_compact_staging"


def _leaf_files(path: str) -> list[str]:
    """Non-hidden parquet data files directly in ``path`` (sorted)."""
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet")
        and not f.startswith((".", "_"))
        and os.path.isfile(os.path.join(path, f))
    )


def _frame_stats(df: DataFrame) -> tuple[int, int]:
    """(row count, multiset fingerprint) in one aggregation."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        _fingerprint_expr(df.columns).alias("fp"),
    ).collect()[0]
    fp = int(row["fp"]) % _MOD if row["fp"] is not None else 0
    return int(row["n"]), fp


def compact_dataset(
    spark: SparkSession,
    path: str,
    target_bytes: int,
    small_file_bytes: int | None = None,
    zorder_by: list[str] | None = None,
    bits: int = 12,
    ranges: list[tuple[float, float]] | None = None,
) -> dict:
    """Bin-pack the small parquet files under ``path`` into ~``target_bytes``
    files (or rewrite the whole leaf clustered on ``zorder_by``). Returns the
    compaction report; a report with ``rewritten == 0`` is the no-op case
    and leaves the directory byte-identical."""
    if target_bytes < 1:
        raise ValueError("target_bytes must be >= 1")
    threshold = target_bytes if small_file_bytes is None else small_file_bytes
    if threshold < 1:
        raise ValueError("small_file_bytes must be >= 1")
    if not os.path.isdir(path):
        raise ValueError(f"compact: {path!r} is not a directory")
    staging = os.path.join(path, STAGING)
    if os.path.isdir(staging):
        raise ValueError(
            f"compact: staging dir {staging!r} already exists — a prior "
            "compaction crashed between verify and install; inspect and "
            "recover (install or delete the staged files) before re-running"
        )
    files = _leaf_files(path)
    if not files:
        raise ValueError(f"compact: no parquet files in {path!r}")
    sizes = {f: os.path.getsize(os.path.join(path, f)) for f in files}
    bytes_before = sum(sizes.values())

    if zorder_by:
        rewrite = list(files)  # re-clustering is a whole-leaf property
    else:
        rewrite = [f for f in files if sizes[f] < threshold]
    rewrite_set = set(rewrite)  # hoisted: the motivating leaf has MANY files
    kept = [f for f in files if f not in rewrite_set]

    # nothing to gain: zero or one small file and no re-clustering request
    if len(rewrite) <= 1 and not zorder_by:
        return {
            "path": path,
            "files_before": len(files),
            "files_after": len(files),
            "bytes_before": bytes_before,
            "bytes_after": bytes_before,
            "rewritten": 0,
            "kept": len(files),
            "rows_moved": 0,
            "fingerprint": format(0, "016x"),
            "n_out": 0,
            "zorder": None,
        }

    rewrite_bytes = sum(sizes[f] for f in rewrite)
    n_out = max(1, math.ceil(rewrite_bytes / target_bytes))
    src = spark.read.parquet(*[os.path.join(path, f) for f in rewrite])
    in_rows, in_fp = _frame_stats(src)

    os.makedirs(staging)
    try:
        if zorder_by:
            from hbase_observer_es_spark.operators.zorder import zorder_write

            zreport = zorder_write(
                src, staging, zorder_by, n_out, bits=bits, ranges=ranges
            )
        else:
            zreport = None
            # round-robin repartition: even output sizes by construction;
            # the shuffle carries only the rewrite set
            src.repartition(n_out).write.mode("overwrite").parquet(staging)

        # verify from the BYTES ON DISK, never the input lineage (the
        # dataset_export read-back rationale)
        staged = spark.read.schema(src.schema).parquet(staging)
        out_rows, out_fp = _frame_stats(staged)
        if (out_rows, out_fp) != (in_rows, in_fp):
            raise ValueError(
                "compact: staged output diverges from input "
                f"(rows {in_rows}->{out_rows}, fingerprint "
                f"{in_fp:016x}->{out_fp:016x}) — originals left untouched"
            )
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise

    # COMMIT. Every staged byte is verified. Remove rewritten originals,
    # then install — every row exists on disk throughout (the staged copy
    # is complete before the first original is removed).
    staged_files = _leaf_files(staging)
    clash = set(staged_files) & set(kept)
    if clash:  # UUID part names make this ~impossible; never overwrite data
        shutil.rmtree(staging, ignore_errors=True)
        raise ValueError(
            f"compact: staged file names collide with kept files: {sorted(clash)}"
        )
    for f in rewrite:
        os.remove(os.path.join(path, f))
    for f in staged_files:
        os.replace(os.path.join(staging, f), os.path.join(path, f))
    shutil.rmtree(staging)

    after = _leaf_files(path)
    bytes_after = sum(os.path.getsize(os.path.join(path, f)) for f in after)
    return {
        "path": path,
        "files_before": len(files),
        "files_after": len(after),
        "bytes_before": bytes_before,
        "bytes_after": bytes_after,
        "rewritten": len(rewrite),
        "kept": len(kept),
        "rows_moved": in_rows,
        "fingerprint": format(in_fp, "016x"),
        "n_out": len(staged_files),
        "zorder": zreport,
    }


def compact_tree(
    spark: SparkSession,
    path: str,
    target_bytes: int,
    small_file_bytes: int | None = None,
    zorder_by: list[str] | None = None,
    bits: int = 12,
) -> dict:
    """Per-leaf compaction over a hive-partitioned layout: every directory
    under ``path`` that directly contains parquet files is compacted
    independently (partition boundaries are never crossed — that is what
    keeps partition pruning intact). Leaves with no parquet files are
    skipped, not an error. Returns ``{leaf_relpath: report}``."""
    if not os.path.isdir(path):
        raise ValueError(f"compact: {path!r} is not a directory")
    reports: dict[str, dict] = {}
    for dirpath, dirnames, _ in os.walk(path):
        # never descend into hidden/staging dirs (Spark readers don't)
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "_"))]
        if _leaf_files(dirpath):
            rel = os.path.relpath(dirpath, path)
            reports[rel] = compact_dataset(
                spark,
                dirpath,
                target_bytes,
                small_file_bytes=small_file_bytes,
                zorder_by=zorder_by,
                bits=bits,
            )
    if not reports:
        raise ValueError(f"compact: no parquet leaves under {path!r}")
    return reports
