"""KeyedParquetSink: merge-on-read runs, folds, restart durability and CDC
semantics."""

from __future__ import annotations

import datetime as dt

from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink
from hbase_observer_es_spark.sources.filestream import scratch_dir

SCHEMA = "row_key string, qualifier string, value string, ts timestamp, op string"


def _t(s: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=s)


def test_merge_touches_only_affected_partitions(spark):
    out = scratch_dir("sink_partition_test")
    sink = KeyedParquetSink(out, n_partitions=16)
    batch1 = spark.createDataFrame(
        [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(20)], SCHEMA
    )
    sink.merge_batch(batch1, 0)
    v0_runs = {k: list(rs) for k, rs in sink._runs.items()}
    # the first batch folds every partition: one base each, all in v0
    assert all(rs == [f"v0/_p={k}"] for k, rs in v0_runs.items())

    batch2 = spark.createDataFrame([("k3", "q", "new", _t(99), "upsert")], SCHEMA)
    sink.merge_batch(batch2, 1)
    grown = {k for k, rs in sink._runs.items() if rs != v0_runs[k]}
    # exactly the one partition containing k3 gained one run, appended after
    # its base; every other partition's run list is unchanged
    assert len(grown) == 1
    (k,) = grown
    assert sink._runs[k] == v0_runs[k] + [f"v1/_p={k}"]
    assert sink._runs.keys() == v0_runs.keys()

    rows = {(r.row_key, r.qualifier): r.value for r in sink.read(spark).collect()}
    assert rows[("k3", "q")] == "new" and len(rows) == 20


def test_each_run_is_one_file_from_its_own_task(spark):
    """The merge shuffles each key partition into a task of its own: the write
    runs n_partitions tasks, however small the batch (adaptive execution would
    coalesce it into one), and each run is a single parquet file."""
    import glob
    import os

    out = scratch_dir("sink_one_file_per_run_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    sc = spark.sparkContext
    for b in range(2):
        rows = [(f"k{i}", "q", f"{b}", _t(b), "upsert") for i in range(40)]
        sc.setJobGroup(f"sink_one_file_{b}", "merge_batch")
        try:
            sink.merge_batch(spark.createDataFrame(rows, SCHEMA).repartition(3), b)
        finally:
            sc._jsc.clearJobGroup()
        tracker = sc.statusTracker()
        last_job = max(tracker.getJobIdsForGroup(f"sink_one_file_{b}"))
        write_stage = max(tracker.getJobInfo(last_job).stageIds)
        assert tracker.getStageInfo(write_stage).numTasks == 4
    runs = [r for rs in sink._runs.values() for r in rs]
    assert len(runs) == 8
    for r in runs:
        assert len(glob.glob(os.path.join(out, r, "*.parquet"))) == 1, r


def test_tombstone_empties_partition(spark):
    out = scratch_dir("sink_tombstone_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    sink.merge_batch(
        spark.createDataFrame([("a", "q", "1", _t(1), "upsert")], SCHEMA), 0
    )
    assert sink.read(spark).count() == 1
    sink.merge_batch(
        spark.createDataFrame([("a", "q", None, _t(2), "delete")], SCHEMA), 1
    )
    assert sink.read(spark).count() == 0


def test_restart_recovers_manifest(spark):
    """Exactly-once across driver restarts: a NEW sink object over the same
    base_dir resumes from the persisted manifest — the round-1 gap where a
    restart silently emptied read()."""
    out = scratch_dir("sink_restart_test")
    sink = KeyedParquetSink(out, n_partitions=8)
    sink.merge_batch(
        spark.createDataFrame(
            [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(10)], SCHEMA
        ),
        0,
    )
    sink.merge_batch(
        spark.createDataFrame(
            [("k3", "q", "updated", _t(50), "upsert"),
             ("k7", "q", None, _t(51), "delete")],
            SCHEMA,
        ),
        1,
    )
    expected = sorted(tuple(r) for r in sink.read(spark).collect())

    # driver restart: fresh object, same directory
    sink2 = KeyedParquetSink(out, n_partitions=8)
    assert sink2._runs == sink._runs
    assert sorted(tuple(r) for r in sink2.read(spark).collect()) == expected

    # checkpoint replays the last batch, then new work arrives — state converges
    sink2.merge_batch(
        spark.createDataFrame(
            [("k3", "q", "updated", _t(50), "upsert"),
             ("k7", "q", None, _t(51), "delete")],
            SCHEMA,
        ),
        1,
    )
    sink2.merge_batch(
        spark.createDataFrame([("k9", "q", "post-restart", _t(60), "upsert")], SCHEMA),
        2,
    )
    rows = {(r.row_key): r.value for r in sink2.read(spark).collect()}
    assert rows["k3"] == "updated" and rows["k9"] == "post-restart"
    assert "k7" not in rows and len(rows) == 9


def test_restart_rejects_repartition(spark):
    out = scratch_dir("sink_repartition_test")
    sink = KeyedParquetSink(out, n_partitions=8)
    sink.merge_batch(
        spark.createDataFrame([("a", "q", "1", _t(1), "upsert")], SCHEMA), 0
    )
    import pytest

    with pytest.raises(ValueError, match="n_partitions"):
        KeyedParquetSink(out, n_partitions=4)


def test_replay_committed_batch_is_noop(spark):
    """Replaying a COMMITTED batch under its ORIGINAL batch_id (what a
    checkpoint restart does) must be a no-op. Without the last_applied
    watermark, the replay would overwrite the live v{batch_id} directory the
    manifest references, and re-apply the batch to runs that already hold it."""
    import os

    out = scratch_dir("sink_replay_committed_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    sink.merge_batch(
        spark.createDataFrame(
            [(f"k{i}", "q", str(i), _t(i), "upsert") for i in range(8)], SCHEMA
        ),
        0,
    )
    b1 = [("k3", "q", "updated", _t(50), "upsert")]
    sink.merge_batch(spark.createDataFrame(b1, SCHEMA), 1)
    committed_runs = dict(sink._runs)
    expected = sorted(tuple(r) for r in sink.read(spark).collect())

    # restart, then checkpoint replays batch 1 with the SAME id
    sink2 = KeyedParquetSink(out, n_partitions=4)
    assert sink2._last_applied == 1
    sink2.merge_batch(spark.createDataFrame(b1, SCHEMA), 1)
    assert sink2._runs == committed_runs  # no run was added or folded
    # every run directory the manifest references is still on disk
    assert all(os.path.isdir(os.path.join(out, r))
               for rs in sink2._runs.values() for r in rs)
    assert sorted(tuple(r) for r in sink2.read(spark).collect()) == expected

    # and genuinely NEW work after the replay still applies
    sink2.merge_batch(
        spark.createDataFrame([("k5", "q", "post", _t(60), "upsert")], SCHEMA), 2
    )
    rows = {r.row_key: r.value for r in sink2.read(spark).collect()}
    assert rows["k5"] == "post" and rows["k3"] == "updated" and len(rows) == 8


def test_replay_idempotent(spark):
    out = scratch_dir("sink_replay_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    batch = spark.createDataFrame(
        [("a", "q", "1", _t(1), "upsert"), ("b", "q", "2", _t(2), "upsert")], SCHEMA
    )
    sink.merge_batch(batch, 0)
    once = sorted(tuple(r) for r in sink.read(spark).collect())
    sink.merge_batch(batch, 1)  # checkpoint replay of the same data
    twice = sorted(tuple(r) for r in sink.read(spark).collect())
    assert once == twice


def test_streaming_crash_restart_resumes_from_checkpoint(spark):
    """Kill the ACTUAL writeStream mid-run — after the sink merged a batch but
    before Structured Streaming committed it — then restart from the same
    checkpoint with a fresh session and a fresh sink object. The replayed batch
    flows through merge_batch as a committed-batch no-op (the real-path twin of
    test_replay_committed_batch_is_noop) and the final state must equal the
    batch q_cdc_tombstone snapshot."""
    import os

    from pyspark.errors import StreamingQueryException

    from hbase_observer_es_spark.operators.cdc import mutations, q_cdc_tombstone
    from hbase_observer_es_spark.sources.filestream import (
        read_stream,
        stage_ordered_batches,
    )
    from hbase_observer_es_spark.streaming.stateful import _streaming_session

    from .conftest import SF_SMOKE

    out = scratch_dir("stream_restart_test")
    mut = mutations(spark, SF_SMOKE)
    stream_dir = stage_ordered_batches(mut, out, 2)
    ckpt = os.path.join(out, "ckpt")
    table_dir = os.path.join(out, "table")

    sink = KeyedParquetSink(table_dir)

    def crashy(df, bid):
        sink.merge_batch(df, bid)
        if bid >= 1:
            raise RuntimeError("injected crash: merge done, stream commit not")

    sub = _streaming_session(spark)
    q = (
        read_stream(sub, stream_dir, mut.schema)
        .writeStream.foreachBatch(crashy)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        crashed = False
    except StreamingQueryException:
        crashed = True
    assert crashed, "injected crash did not surface"

    # driver restart: fresh isolated session, fresh sink object, same checkpoint
    spark2 = _streaming_session(spark)
    sink2 = KeyedParquetSink(table_dir)
    assert sink2._last_applied == 1  # the merge committed before the crash
    q2 = (
        read_stream(spark2, stream_dir, mut.schema)
        .writeStream.foreachBatch(sink2.merge_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()

    cols = ["row_key", "qualifier", "value", "ts"]
    got = sorted(tuple(r) for r in sink2.read(spark2).select(*cols).collect())
    want = sorted(
        tuple(r) for r in q_cdc_tombstone(spark, SF_SMOKE).select(*cols).collect()
    )
    assert got == want


def test_old_format_manifest_is_rejected(spark):
    """A manifest of the copy-on-write layout (one ``current`` version per
    partition) is refused loudly, not read as an empty index."""
    import json
    import os

    import pytest

    out = scratch_dir("sink_old_manifest_test")
    with open(os.path.join(out, KeyedParquetSink.MANIFEST), "w") as f:
        json.dump({"n_partitions": 4, "last_applied": 0, "current": {"0": "v0/_p=0"}}, f)
    with pytest.raises(ValueError, match="current"):
        KeyedParquetSink(out, n_partitions=4)


def _run_dirs(out: str) -> set[str]:
    import glob
    import os

    return {os.path.relpath(p, out) for p in glob.glob(os.path.join(out, "v*", "_p=*"))}


def test_disk_holds_exactly_the_manifest_runs(spark):
    """Bounded disk: after every commit the run directories on disk are
    exactly the ones the manifest lists, every ``v{b}`` directory holds at
    least one of them, and a partition never holds more than K runs. Leftovers
    of a crash between commit and delete are swept on construction."""
    import os

    from hbase_observer_es_spark.sinks.keyed_parquet import K

    out = scratch_dir("sink_bounded_disk_test")
    sink = KeyedParquetSink(out, n_partitions=4)
    for b in range(12):
        rows = [(f"k{(b * 7 + i) % 40}", "q", f"{b}-{i}", _t(10 * b + i), "upsert")
                for i in range(10)]
        rows.append((f"k{b}", None, None, _t(10 * b + 9), "delete"))
        sink.merge_batch(spark.createDataFrame(rows, SCHEMA), b)
        listed = {r for rs in sink._runs.values() for r in rs}
        assert _run_dirs(out) == listed
        assert {d for d in os.listdir(out) if d.startswith("v")} == {
            r.split("/")[0] for r in listed
        }
        assert max(len(rs) for rs in sink._runs.values()) <= K

    want = sorted(tuple(r) for r in sink.read(spark).collect())
    os.makedirs(os.path.join(out, "v99", "_p=0"))
    stale = sorted(_run_dirs(out) - {r for rs in sink._runs.values() for r in rs})
    restarted = KeyedParquetSink(out, n_partitions=4)
    assert stale == ["v99/_p=0"] and not os.path.exists(os.path.join(out, "v99"))
    assert _run_dirs(out) == {r for rs in restarted._runs.values() for r in rs}
    assert sorted(tuple(r) for r in restarted.read(spark).collect()) == want


def _replay(batches):
    """The per-batch LWW/tombstone model: each batch's upserts join the live
    cells by last-write-wins on (ts, value), then the batch's deletes drop
    every cell of their key with ts <= the key's latest delete in the batch
    (delete wins ties; a later batch may re-create the key at any ts)."""
    cells: dict = {}
    for rows in batches:
        dels: dict = {}
        for k, q, v, ts, op in rows:
            if op == "delete":
                dels[k] = max(dels.get(k, ts), ts)
            elif (k, q) not in cells or (ts, v) > cells[(k, q)]:
                cells[(k, q)] = (ts, v)
        cells = {kq: c for kq, c in cells.items()
                 if kq[0] not in dels or c[0] > dels[kq[0]]}
    return cells


def _mutation_batches():
    from hypothesis import strategies as st

    from hbase_observer_es_spark.sinks.keyed_parquet import K

    key = st.sampled_from(["a", "b", "c", "d", "e"])
    ts = st.integers(0, 5).map(_t)  # a narrow range: same-ts ties are common
    put = st.builds(
        lambda k, t, cells: [(k, q, v, t, "upsert") for q, v in cells.items()],
        key, ts, st.dictionaries(st.sampled_from("xy"), st.sampled_from("012"),
                                 min_size=1),
    )
    delete = st.builds(lambda k, t: [(k, None, None, t, "delete")], key, ts)
    batch = st.lists(st.one_of(put, put, delete), max_size=5).map(
        lambda ms: [row for m in ms for row in m]
    )
    return st.lists(batch, min_size=K + 1, max_size=K + 3)


def test_merge_on_read_matches_replay(spark):
    """Random Put/delete sequences with same-ts ties, split into random
    batches over 2 key partitions and at least K + 1 batches (so runs pile up
    and get folded), read back equal to the pure-Python replay after every
    batch."""
    from hypothesis import Phase, example, given, settings

    # no shrinking: every example runs a few dozen Spark jobs
    @settings(max_examples=4, deadline=None, derandomize=True,
              phases=(Phase.explicit, Phase.reuse, Phase.generate))
    @given(_mutation_batches())
    # arrival order: a delete hides no upsert of a later batch, even an older
    # or same-ts one, while the runs that hold them are not yet folded
    @example([[("a", "x", "1", _t(0), "upsert")], [("a", None, None, _t(5), "delete")],
              [("a", "x", "2", _t(3), "upsert")], [("a", None, None, _t(4), "delete")],
              [("a", "y", "3", _t(4), "upsert")]])
    def check(batches):
        # scratch_dir empties the directory: every example starts a new index
        sink = KeyedParquetSink(scratch_dir("sink_property_test"), n_partitions=2)
        for b, rows in enumerate(batches):
            sink.merge_batch(spark.createDataFrame(rows, SCHEMA), b)
            got = {(r.row_key, r.qualifier): (r.ts, r.value)
                   for r in sink.read(spark).collect()}
            assert got == _replay(batches[: b + 1]), b

    check()
