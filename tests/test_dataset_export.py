"""Dataset publication sink (attic/sinks/dataset_export.py): deterministic shards,
verifiable manifest, loud failure on tamper."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from hbase_observer_es_spark.io import table
from attic.sinks.dataset_export import (
    MANIFEST,
    export_dataset,
    verify_export,
)

from .conftest import SF_SMOKE

N_SHARDS = 4


@pytest.mark.parametrize("fmt", ["parquet", "jsonl"])
def test_export_roundtrip_and_verify(spark, tmp_path, fmt):
    src = table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / f"ds_{fmt}")
    manifest = export_dataset(src, path, key="doc_id", n_shards=N_SHARDS, fmt=fmt)
    assert manifest["total_rows"] == src.count()
    assert sum(s["rows"] for s in manifest["shards"].values()) == manifest["total_rows"]
    assert all(s["bytes"] > 0 for s in manifest["shards"].values() if s["rows"])
    # consumer-side gate passes on the untouched export
    assert verify_export(spark, path)["total_rows"] == manifest["total_rows"]


def test_export_sharding_is_deterministic(spark, tmp_path):
    """Same corpus → byte-identical shard membership and fingerprints across
    exports (shard assignment is a function of the data, not the cluster)."""
    src = table(spark, SF_SMOKE, "documents")
    m1 = export_dataset(src, str(tmp_path / "a"), "doc_id", N_SHARDS)
    # perturb physical layout: different incoming partitioning, same rows
    m2 = export_dataset(
        src.repartition(7, "lang"), str(tmp_path / "b"), "doc_id", N_SHARDS
    )
    assert {k: (v["rows"], v["fingerprint"]) for k, v in m1["shards"].items()} == {
        k: (v["rows"], v["fingerprint"]) for k, v in m2["shards"].items()
    }


def test_fingerprint_is_multiset_sensitive(spark, tmp_path):
    """A duplicated row must CHANGE the fingerprint (sum fold, not xor — the
    failure mode called out in the module docstring)."""
    src = table(spark, SF_SMOKE, "documents").limit(10)
    dup = src.unionByName(src.limit(1))
    m1 = export_dataset(src, str(tmp_path / "a"), "doc_id", 1)
    m2 = export_dataset(dup, str(tmp_path / "b"), "doc_id", 1)
    assert m1["shards"]["0"]["fingerprint"] != m2["shards"]["0"]["fingerprint"]


def test_verify_fails_on_missing_shard_file(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ds")
    export_dataset(src, path, "doc_id", N_SHARDS)
    # tamper: remove one shard's data file
    victim = None
    for sid in range(N_SHARDS):
        d = os.path.join(path, f"__shard={sid}")
        if os.path.isdir(d):
            for f in os.listdir(d):
                if f.endswith(".parquet"):
                    victim = os.path.join(d, f)
                    break
        if victim:
            break
    assert victim
    os.remove(victim)
    with pytest.raises(ValueError, match="verification FAILED"):
        verify_export(spark, path)


def test_verify_fails_on_modified_rows(spark, tmp_path):
    """Same row COUNT, different values → the fingerprint catches it."""
    src = table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ds")
    export_dataset(src, path, "doc_id", 1)
    # rewrite shard 0 with one value changed, preserving count and schema
    d = os.path.join(path, "__shard=0")
    shard_df = spark.read.parquet(d)
    tampered = shard_df.withColumn(
        "lang", F.when(F.col("doc_id") == shard_df.first()["doc_id"], "xx")
        .otherwise(F.col("lang"))
    )
    tampered.write.mode("overwrite").parquet(str(tmp_path / "t"))
    import shutil

    shutil.rmtree(d)
    shutil.copytree(str(tmp_path / "t"), d)
    with pytest.raises(ValueError, match="fingerprint"):
        verify_export(spark, path)


def test_export_rejects_bad_inputs(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents")
    with pytest.raises(ValueError, match="format"):
        export_dataset(src, str(tmp_path / "x"), "doc_id", 2, fmt="csv")
    with pytest.raises(ValueError, match="n_shards"):
        export_dataset(src, str(tmp_path / "x"), "doc_id", 0)
    with pytest.raises(ValueError, match="shard key"):
        export_dataset(src, str(tmp_path / "x"), "nope", 2)


def test_manifest_file_is_committed_json(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents")
    path = str(tmp_path / "ds")
    m = export_dataset(src, path, "doc_id", 2)
    on_disk = json.load(open(os.path.join(path, MANIFEST)))
    assert on_disk == m


def test_diff_exports_localizes_the_change(spark, tmp_path):
    """Edit ONE document → only that document's shard shows as changed; the
    incremental-mirror promise of deterministic key-hash sharding."""
    from attic.sinks.dataset_export import diff_exports

    src = table(spark, SF_SMOKE, "documents")
    m1 = export_dataset(src, str(tmp_path / "v1"), "doc_id", N_SHARDS)
    victim = src.first()["doc_id"]
    edited = src.withColumn(
        "text",
        F.when(F.col("doc_id") == victim, F.lit("EDITED")).otherwise(F.col("text")),
    )
    m2 = export_dataset(edited, str(tmp_path / "v2"), "doc_id", N_SHARDS)
    d = diff_exports(m1, m2)
    assert len(d["changed"]) == 1
    assert d["added"] == [] and d["removed"] == []
    assert len(d["unchanged"]) == N_SHARDS - 1
    # identical re-export diffs empty
    m3 = export_dataset(src, str(tmp_path / "v3"), "doc_id", N_SHARDS)
    d2 = diff_exports(m1, m3)
    assert d2["changed"] == [] and len(d2["unchanged"]) == N_SHARDS


def test_diff_exports_rejects_incomparable_manifests(spark, tmp_path):
    from attic.sinks.dataset_export import diff_exports

    src = table(spark, SF_SMOKE, "documents")
    m1 = export_dataset(src, str(tmp_path / "a"), "doc_id", 2)
    m2 = export_dataset(src, str(tmp_path / "b"), "doc_id", 3)
    with pytest.raises(ValueError, match="n_shards"):
        diff_exports(m1, m2)


@pytest.mark.parametrize("fmt", ["parquet", "jsonl"])
def test_export_with_timestamps_verifies(spark, tmp_path, fmt):
    """The events table carries micro-precision timestamps — the export's
    read-back fingerprinting must agree with itself through both formats
    (JSONL is the risky one: a timestamp format drift between write and
    read-back would shift every fingerprint)."""
    src = table(spark, SF_SMOKE, "events")
    path = str(tmp_path / f"ev_{fmt}")
    m = export_dataset(src, path, key="event_id", n_shards=3, fmt=fmt)
    assert m["total_rows"] == src.count()
    assert verify_export(spark, path)["shards"] == m["shards"]


def test_parquet_and_jsonl_exports_fingerprint_identically(spark, tmp_path):
    """The fingerprint is a function of the DATA, not the container: the same
    corpus exported in both formats must produce identical per-shard
    fingerprints — which also proves the JSONL round-trip is value-exact
    down to the micro (a lost microsecond would change xxhash64)."""
    src = table(spark, SF_SMOKE, "events")
    mp = export_dataset(src, str(tmp_path / "p"), "event_id", 3, fmt="parquet")
    mj = export_dataset(src, str(tmp_path / "j"), "event_id", 3, fmt="jsonl")
    fp = {k: v["fingerprint"] for k, v in mp["shards"].items()}
    fj = {k: v["fingerprint"] for k, v in mj["shards"].items()}
    assert fp == fj
