"""Compaction: bin-packing correctness, big-file passthrough, content
preservation under the fingerprint gate, staged-commit crash discipline,
z-order re-clustering composition, and per-leaf tree traversal."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from attic.sinks.compact import (
    STAGING,
    compact_dataset,
    compact_tree,
)


def _fragmented(spark, path: str, n_rows: int = 2000, n_files: int = 40):
    df = spark.range(n_rows).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.concat(F.lit("payload-"), F.col("id")).alias("s"),
    )
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return df


def _content(spark, path: str):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _data_files(path: str):
    return sorted(
        f
        for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def test_compact_binpacks_and_preserves_content(spark, tmp_path):
    path = str(tmp_path / "frag")
    _fragmented(spark, path)
    before = _content(spark, path)
    n_before = len(_data_files(path))
    assert n_before == 40
    total = sum(
        os.path.getsize(os.path.join(path, f)) for f in _data_files(path)
    )
    report = compact_dataset(spark, path, target_bytes=total // 4 + 1)
    assert report["rewritten"] == n_before
    assert 1 <= report["files_after"] <= 6
    assert report["rows_moved"] == 2000
    assert _content(spark, path) == before
    assert not os.path.isdir(os.path.join(path, STAGING))


def test_big_files_pass_through_untouched(spark, tmp_path):
    path = str(tmp_path / "mixed")
    # one big file + many small ones
    big = spark.range(5000).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.lit("x").alias("s")
    )
    big.coalesce(1).write.mode("overwrite").parquet(path)
    big_file = _data_files(path)[0]
    small = spark.range(5000, 5200).select(
        F.col("id"), (F.col("id") % 7).alias("k"), F.lit("y").alias("s")
    )
    small.repartition(20).write.mode("append").parquet(path)
    before = _content(spark, path)
    big_bytes = os.path.getsize(os.path.join(path, big_file))
    big_mtime = os.path.getmtime(os.path.join(path, big_file))

    report = compact_dataset(
        spark, path, target_bytes=10 << 20, small_file_bytes=big_bytes
    )
    assert report["kept"] == 1
    assert report["rewritten"] == 20
    assert report["rows_moved"] == 200
    # the big file is bit-for-bit the same inode content: untouched
    assert big_file in _data_files(path)
    assert os.path.getsize(os.path.join(path, big_file)) == big_bytes
    assert os.path.getmtime(os.path.join(path, big_file)) == big_mtime
    assert _content(spark, path) == before


def test_noop_when_nothing_to_gain(spark, tmp_path):
    path = str(tmp_path / "one")
    _fragmented(spark, path, n_rows=100, n_files=1)
    files = _data_files(path)
    report = compact_dataset(spark, path, target_bytes=1)
    assert report["rewritten"] == 0
    assert _data_files(path) == files


def test_zorder_recluster_rewrites_whole_leaf(spark, tmp_path):
    path = str(tmp_path / "zc")
    side = 32
    rows = [(i % side, (i * 7) % side, i) for i in range(side * side)]
    df = spark.createDataFrame(rows, "x int, y int, payload int")
    df.repartition(10).write.mode("overwrite").parquet(path)
    before = _content(spark, path)
    total = sum(
        os.path.getsize(os.path.join(path, f)) for f in _data_files(path)
    )
    report = compact_dataset(
        spark, path, target_bytes=total // 4 + 1, zorder_by=["x", "y"], bits=5
    )
    assert report["rewritten"] == 10  # whole leaf, not just small files
    assert report["zorder"]["columns"] == ["x", "y"]
    assert _content(spark, path) == before


def test_stale_staging_fails_loud(spark, tmp_path):
    path = str(tmp_path / "stale")
    _fragmented(spark, path, n_rows=100, n_files=4)
    os.makedirs(os.path.join(path, STAGING))
    with pytest.raises(ValueError, match="staging dir .* already exists"):
        compact_dataset(spark, path, target_bytes=1 << 20)


def test_failed_rewrite_leaves_originals(spark, tmp_path):
    path = str(tmp_path / "fail")
    _fragmented(spark, path, n_rows=100, n_files=4)
    before = _content(spark, path)
    files = _data_files(path)
    with pytest.raises(Exception):
        # unknown z-order column fails inside the staged phase
        compact_dataset(
            spark, path, target_bytes=1 << 20, zorder_by=["nope", "x"]
        )
    assert _data_files(path) == files
    assert _content(spark, path) == before
    assert not os.path.isdir(os.path.join(path, STAGING))


def test_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="not a directory"):
        compact_dataset(spark, str(tmp_path / "missing"), 1 << 20)
    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(ValueError, match="no parquet files"):
        compact_dataset(spark, str(empty), 1 << 20)
    with pytest.raises(ValueError, match="target_bytes"):
        compact_dataset(spark, str(empty), 0)
    with pytest.raises(ValueError, match="no parquet leaves"):
        compact_tree(spark, str(empty), 1 << 20)


def test_compact_tree_per_leaf(spark, tmp_path):
    root = str(tmp_path / "tree")
    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 3).alias("part"),
        F.concat(F.lit("v"), F.col("id")).alias("s"),
    )
    (
        df.repartition(12)
        .write.mode("overwrite")
        .partitionBy("part")
        .parquet(root)
    )
    before = sorted(map(tuple, spark.read.parquet(root).collect()))
    leaf_files_before = {
        d: _data_files(os.path.join(root, d))
        for d in os.listdir(root)
        if d.startswith("part=")
    }
    assert all(len(v) > 1 for v in leaf_files_before.values())

    reports = compact_tree(spark, root, target_bytes=64 << 20)
    assert sorted(reports) == sorted(leaf_files_before)
    for rel, rep in reports.items():
        assert rep["rewritten"] == len(leaf_files_before[rel])
        assert rep["files_after"] == 1  # tiny leaves pack to one file each
    # partition column still prunes: the layout kept the hive structure
    after = sorted(map(tuple, spark.read.parquet(root).collect()))
    assert after == before
    one = spark.read.parquet(root).where(F.col("part") == 1)
    assert one.count() == df.where(F.col("part") == 1).count()
