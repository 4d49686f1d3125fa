"""Crash-point fault injection for the composed sync path: an HBase REST
change log → ``parse_change_log`` → ``KeyedParquetSink.merge_batch`` →
``EsBulkSink.write_batch`` inside one checkpointed ``foreachBatch`` stream.

The stream is killed at each commit point of one batch, then restarted on the
same checkpoint with a fresh session and fresh sink objects. Whatever the
point, the index must equal the change log's pure-Python replay and every
bulk batch directory must hold each of its batch's actions exactly once: the
replayable-source plus idempotent-sink argument for exactly-once delivery.
The faults are raised from the test (``os.replace``/``shutil.rmtree`` as the
sink calls them, or the ``foreachBatch`` body), not by hooks in the package.
``inside_run_write`` also tears one parquet file of the batch's run directory
before the crash, as a write cut short would leave it.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException

from hbase_observer_es_spark.sinks import keyed_parquet
from hbase_observer_es_spark.sinks.es_bulk import EsBulkSink
from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink
from hbase_observer_es_spark.sources.filestream import scratch_dir
from hbase_observer_es_spark.sources.hbase_rest import parse_change_log
from hbase_observer_es_spark.streaming.stateful import _streaming_session
from perfbench.cdc import ChangeLog, _cells

LOG = {
    "key_space": 60, "zipf_s": 0.99, "delete_share": 0.1, "malformed_share": 0.02,
    "max_cells": 3, "preload_keys": 20, "lookup_keys": 1,
}
N_BATCHES = 6
# with 2 key partitions, batch 3 folds partition 1 (3 runs, (3 + 1) % K == 0)
# and deletes its superseded runs: every crash point below is a fold batch
CRASH_BATCH = 3
POINTS = (
    "inside_run_write", "before_manifest", "before_bulk", "before_stream_commit",
    "before_delete",
)


def _stage(in_dir: str, log: ChangeLog) -> list[dict]:
    """Write the snapshot and N_BATCHES - 1 log batches as ordered files."""
    staged = [log.preload()] + [log.batch(40) for _ in range(N_BATCHES - 1)]
    now = time.time()
    for i, (lines, _) in enumerate(staged):
        path = os.path.join(in_dir, f"log-{i:06d}.ndjson")
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.utime(path, (now + i, now + i))  # the file source replays by mtime
    return [info for _, info in staged]


def _bulk_counts(batch_dir: str) -> tuple[int, int]:
    updates = deletes = 0
    for path in glob.glob(os.path.join(batch_dir, "part-*")):
        with open(path, "rb") as f:
            for line in f:
                updates += line.startswith(b'{"update"')
                deletes += line.startswith(b'{"delete"')
    return updates, deletes


def _tear_run_file(index: str) -> str:
    """Truncate one parquet file of the crash batch's run directory to half
    its size: no footer, so no reader can open it."""
    path = sorted(glob.glob(os.path.join(index, f"v{CRASH_BATCH}", "_p=*", "*.parquet")))[0]
    with open(path, "r+b") as f:
        f.truncate(os.path.getsize(path) // 2)
    return path


@pytest.mark.parametrize("point", POINTS)
def test_sync_crash_restart_matches_replay(spark, monkeypatch, point):
    out = scratch_dir(f"sync_crash_{point}")
    in_dir = os.path.join(out, "in")
    os.makedirs(in_dir)
    log = ChangeLog(7, LOG)
    infos = _stage(in_dir, log)
    index, bulk_dir, ckpt = (os.path.join(out, d) for d in ("index", "bulk", "ckpt"))
    fired = []
    torn = []

    def fault(real):
        def wrapped(*args, **kwargs):
            if fired == ["armed"]:
                fired[0] = "fired"
                if point == "inside_run_write":
                    torn.append(_tear_run_file(index))
                raise OSError(f"injected crash: {point}")
            return real(*args, **kwargs)
        return wrapped

    if point in ("inside_run_write", "before_manifest"):
        # the manifest rename is the sink's only os.replace
        monkeypatch.setattr(keyed_parquet.os, "replace", fault(os.replace))
    if point == "before_delete":
        monkeypatch.setattr(keyed_parquet.shutil, "rmtree", fault(shutil.rmtree))

    def run(crash: bool) -> KeyedParquetSink:
        sink = KeyedParquetSink(index, n_partitions=2)
        bulk = EsBulkSink(bulk_dir)

        def on_batch(df, batch_id):
            muts = parse_change_log(df).persist()
            if crash and batch_id == CRASH_BATCH and not fired:
                fired.append("armed")
            sink.merge_batch(muts, batch_id)
            if fired == ["armed"] and point == "before_bulk":
                fired[0] = "fired"
                raise RuntimeError("injected crash: manifest committed, bulk not")
            bulk.write_batch(muts, batch_id)
            if fired == ["armed"] and point == "before_stream_commit":
                fired[0] = "fired"
                raise RuntimeError("injected crash: bulk written, stream commit not")
            muts.unpersist()

        sub = _streaming_session(spark)
        q = (
            sub.readStream.option("maxFilesPerTrigger", 1).text(in_dir)
            .writeStream.foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        if crash:
            with pytest.raises(StreamingQueryException, match="injected crash"):
                q.awaitTermination()
        else:
            q.awaitTermination()
        return sink

    run(crash=True)
    assert fired == ["fired"]
    if point == "inside_run_write":
        with pytest.raises(pa.ArrowInvalid):  # the torn file has no footer
            pq.ParquetFile(torn[0])
    sink = run(crash=False)  # restart: same checkpoint, fresh objects

    got = _cells(sink.read(spark).toArrow().to_pylist())
    assert got == log.expected(log.state)
    for batch_id, info in enumerate(infos):
        assert _bulk_counts(EsBulkSink(bulk_dir).batch_dir(batch_id)) == (
            info["puts"], info["deletes"]
        ), batch_id
    on_disk = {os.path.relpath(p, index) for p in glob.glob(os.path.join(index, "v*", "_p=*"))}
    assert on_disk == {r for rs in sink._runs.values() for r in rs}
