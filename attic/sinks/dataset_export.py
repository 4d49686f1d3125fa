"""Sharded dataset publication sink with a verifiable manifest.

The last step of a training-data pipeline is PUBLICATION: a curated corpus
leaves the engine as a fixed set of shards that trainers stream, mirror, and
audit. The requirements differ from an ordinary write:

* **Deterministic sharding.** Shard membership is ``pmod(xxhash64(key), n)``
  over a caller-named key column — a pure function of the DATA, not of the
  cluster: a re-export of the same corpus lands every row in the same shard,
  so re-publications are diffable shard-by-shard and a partially-mirrored
  consumer can fetch only the shards whose fingerprint changed.
* **A manifest that can be CHECKED, not just read.** ``_MANIFEST.json``
  records per-shard row counts, byte sizes, and an order-independent content
  fingerprint (sum of per-row ``xxhash64`` over all exported columns, mod
  2^64 — computed in ``decimal(38,0)`` so ANSI mode cannot overflow, and
  independent of row order because addition commutes; note the fingerprint
  is multiset-sensitive, so duplicate rows DO change it, unlike an XOR
  fold). ``verify_export`` recomputes counts and fingerprints from the files
  actually on disk and fails loudly on any divergence — the consumer-side
  integrity gate.
* **Format follows the consumer.** Parquet shards for Spark/analytics
  consumers (pruned, pushed-down); JSONL shards for token-pipeline loaders
  that stream text (explicit schema recorded in the manifest; the same
  FAILFAST read contract as ``attic/sources/jsonl.py``, binary columns rejected
  there by the same rule).

Scale posture: shard count is the caller's lever (at 100 TB target ~2-4 GB a
shard → tens of thousands of shards; the hash assignment is uniform by
construction so skew is bounded by row-size variance, not key popularity).
The export is ONE shuffle (repartition on the shard id) + one map-side
aggregation for the manifest; verification is a single scan of the published
files. Nothing driver-side ever holds row data — the manifest holds one
record per SHARD.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_SHARD = "__shard"
_MOD = 1 << 64
MANIFEST = "_MANIFEST.json"

# stats entry for a shard that received no rows (and the comparison default)
_EMPTY_SHARD = {"rows": 0, "fingerprint": format(0, "016x")}


def _fingerprint_expr(cols: list[str]):
    """Order-independent multiset fingerprint: sum of per-row xxhash64 in
    decimal(38,0) (no overflow under ANSI), reduced mod 2^64 at the end."""
    return F.sum(F.xxhash64(*[F.col(c) for c in cols]).cast(T.DecimalType(38, 0)))


def _shard_stats(df: DataFrame, cols: list[str]) -> dict[int, dict]:
    rows = (
        df.groupBy(_SHARD)
        .agg(F.count(F.lit(1)).alias("rows"), _fingerprint_expr(cols).alias("fp"))
        .collect()
    )
    return {
        int(r[_SHARD]): {
            "rows": int(r["rows"]),
            "fingerprint": format(int(r["fp"]) % _MOD, "016x"),
        }
        for r in rows
    }


def _files_of(path: str, shard_dir: str) -> list[str]:
    d = os.path.join(path, shard_dir)
    return sorted(
        f for f in os.listdir(d)
        if not f.startswith((".", "_")) and os.path.isfile(os.path.join(d, f))
    )


def export_dataset(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int,
    fmt: str = "parquet",
) -> dict:
    """Publish ``df`` as ``n_shards`` deterministic shards under ``path`` with
    a verifiable ``_MANIFEST.json``. Returns the manifest dict."""
    if fmt not in ("parquet", "jsonl"):
        raise ValueError(f"export format must be parquet or jsonl, got {fmt!r}")
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    cols = df.columns
    if key not in cols:
        raise ValueError(f"shard key {key!r} not in columns {cols}")
    if fmt == "jsonl":
        from attic.sources.jsonl import _TS_FORMAT, _reject_binary

        _reject_binary(df.schema)

    sharded = df.withColumn(
        _SHARD, F.pmod(F.xxhash64(F.col(key)), F.lit(n_shards))
    )
    # one shuffle: co-locate each shard id so every shard directory is written
    # by (typically) one task and the file count per shard stays 1
    sharded = sharded.repartition(n_shards, F.col(_SHARD))
    writer = sharded.write.mode("overwrite").partitionBy(_SHARD)
    if fmt == "parquet":
        writer.parquet(path)
    else:
        writer.option("timestampFormat", _TS_FORMAT).json(path)

    # Manifest stats come from READING BACK the published files, never from
    # the input frame's lineage: re-executing the lineage for the stats job
    # could disagree with what was written if the upstream frame is
    # non-deterministic (the same checked-rows-vs-written-rows gap the CSV
    # sink guard closes by fusing validation into the write). Reading back
    # makes the manifest describe the bytes on disk by construction, at the
    # cost of one extra scan of the published (column-pruned) data.
    stats = _shard_stats(_read_back(df.sparkSession, path, df.schema, fmt), cols)
    shards = {}
    total_rows = 0
    total_bytes = 0
    for sid in range(n_shards):
        sdir = f"{_SHARD}={sid}"
        present = os.path.isdir(os.path.join(path, sdir))
        files = _files_of(path, sdir) if present else []
        nbytes = sum(
            os.path.getsize(os.path.join(path, sdir, f)) for f in files
        )
        entry = stats.get(sid, _EMPTY_SHARD)
        shards[str(sid)] = {**entry, "files": files, "bytes": nbytes}
        total_rows += entry["rows"]
        total_bytes += nbytes
    manifest = {
        "format": fmt,
        "key": key,
        "n_shards": n_shards,
        "columns": cols,
        "schema": json.loads(df.schema.json()),
        "total_rows": total_rows,
        "total_bytes": total_bytes,
        "shards": shards,
    }
    with open(os.path.join(path, MANIFEST), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return manifest


def _read_back(
    spark: SparkSession, path: str, schema: T.StructType, fmt: str
) -> DataFrame:
    """Read a published export with the shard partition column attached.
    The JSONL branch delegates to sources/jsonl.read_jsonl so the read-back
    contract (explicit schema, FAILFAST, pinned timestamp format, and any
    future option added there) can never silently diverge from the module it
    documents itself as matching."""
    full = T.StructType(
        list(schema.fields) + [T.StructField(_SHARD, T.IntegerType())]
    )
    if fmt == "parquet":
        return spark.read.schema(full).parquet(path)
    from attic.sources.jsonl import read_jsonl

    return read_jsonl(spark, path, full)


def diff_exports(old_manifest: dict, new_manifest: dict) -> dict:
    """Shard-level diff of two publications of the same dataset: which shard
    ids changed content (fingerprint), appeared, or disappeared. This is what
    deterministic key-hash sharding buys — a mirror refreshes ONLY
    ``changed`` + ``added`` shards instead of re-fetching the corpus.
    Raises if the two manifests are not comparable (different key, shard
    count, or column set — those change shard membership wholesale, so a
    shard-level diff would be meaningless)."""
    for field in ("key", "n_shards", "columns", "format"):
        if old_manifest[field] != new_manifest[field]:
            raise ValueError(
                f"manifests not shard-comparable: {field} differs "
                f"({old_manifest[field]!r} vs {new_manifest[field]!r})"
            )
    old_s, new_s = old_manifest["shards"], new_manifest["shards"]
    changed, unchanged = [], []
    for sid in old_s.keys() & new_s.keys():
        bucket = (
            changed
            if old_s[sid]["fingerprint"] != new_s[sid]["fingerprint"]
            else unchanged
        )
        bucket.append(int(sid))
    return {
        "changed": sorted(changed),
        "added": sorted(int(s) for s in new_s.keys() - old_s.keys()),
        "removed": sorted(int(s) for s in old_s.keys() - new_s.keys()),
        "unchanged": sorted(unchanged),
    }


def verify_export(spark: SparkSession, path: str) -> dict:
    """Consumer-side integrity gate: recompute per-shard row counts and
    fingerprints from the files on disk and compare against the manifest.
    Raises ValueError naming every diverging shard; returns the manifest on
    success."""
    with open(os.path.join(path, MANIFEST)) as fh:
        manifest = json.load(fh)
    schema = T.StructType.fromJson(manifest["schema"])
    cols = manifest["columns"]
    got = _shard_stats(
        _read_back(spark, path, schema, manifest["format"]), cols
    )
    problems = []
    for sid_s, want in manifest["shards"].items():
        sid = int(sid_s)
        have = got.get(sid, _EMPTY_SHARD)
        if have["rows"] != want["rows"]:
            problems.append(
                f"shard {sid}: rows {have['rows']} != manifest {want['rows']}"
            )
        elif have["fingerprint"] != want["fingerprint"]:
            problems.append(
                f"shard {sid}: fingerprint {have['fingerprint']} != "
                f"manifest {want['fingerprint']}"
            )
    extra = sorted(set(got) - {int(s) for s in manifest["shards"]})
    if extra:
        problems.append(f"shards on disk but not in manifest: {extra}")
    if problems:
        raise ValueError(
            "dataset export verification FAILED:\n  " + "\n  ".join(problems)
        )
    return manifest
