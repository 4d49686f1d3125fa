"""True Structured Streaming: stateful dedup and the checkpointed upsert sink —
the faithful rebuild of the reference's delivery machinery (A2–A3, A7–A11).

Reference semantics being reproduced (file:line into /root/reference):
* mutation capture: postPut/postDelete hooks (HbaseDataSyncEsObserver.java:69,:97)
  → here a file-source mutation stream replayed in arrival order.
* micro-batching: bulk buffer flushed at 10 000 docs or every 10 s
  (ElasticsearchBulkOperator.java:41,:30-31) → trigger + maxFilesPerTrigger
  (tests use availableNow so runs terminate; production uses
  trigger(processingTime='10 seconds') for the same cadence).
* at-least-once retry-requeue (ElasticsearchBulkOperator.java:124-135) →
  checkpointing + idempotent LWW merge = effective exactly-once, strictly stronger
  (the reference can lose ≤10 s/≤10 k buffered docs on crash — heap-only buffer,
  ElasticsearchBulkOperator.java:45).
* upsert/delete application per key (HbaseDataSyncEsObserver.java:85-89,:101-104)
  → foreachBatch merge using the same resolver as the batch path's
  apply_tombstones (cdc.resolve_cells), so stream state == batch snapshot by
  construction (verified by the oracle).

Deletes are applied against state as of their batch (arrival order) — exactly the
reference's semantics, where an old upsert arriving after a delete re-creates the doc.

Scale: the foreachBatch merge appends one run per key partition to a
merge-on-read keyed parquet table (sinks/keyed_parquet.py), resolved by one hash
exchange on the row key feeding two windows — no join; a few partitions per batch
fold their runs into a new base (Delta/Hudi merge-on-read in production). No
driver state, no global lock — the partition parallelism the reference's single
ReentrantLock buffer (ElasticsearchBulkOperator.java:47) cannot have.

Every stream query here (and streaming/scrub.py's) runs through ``_run_stream``,
the one place a stream is staged, started and drained; each query supplies only
its source, transform and the settings that differ.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import uuid
import weakref

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import dsum
from ..operators.cdc import SQL_CDC_TOMBSTONE, mutations
from ..session import apply_runtime_conf
from ..sinks.keyed_parquet import KeyedParquetSink
from ..io import table
from ..sources.filestream import read_stream, scratch_dir, source_fingerprint, stage_cached

# 2 micro-batches: cross-batch state (the thing being tested) needs >= 2, and
# every extra batch costs a full state-store commit cycle per query — at
# fixture scale that fixed overhead dominates the bench (~4s/query saved vs 4
# batches, identical semantics and oracles)
N_BATCHES = 2

# State-store partition count for the streaming queries. The shuffle-partition
# setting at FIRST batch is baked into the checkpoint as the state partition
# count; 8 is sized to fixture micro-batches (50 k rows) where per-partition
# state-commit overhead dominates. At 100 TB raise it with the key cardinality —
# it is a fresh-checkpoint-time knob, not a code change.
STATE_PARTITIONS = 8


# When set to a dict (tests/test_streaming_isolation.py), every true-stream
# query records the EXECUTED plan of its final micro-batch here
# (query.lastExecution via explainInternal) right after termination.
# None (the default) = zero overhead.
LAST_PLANS: dict[str, str] | None = None


def _record_stream_plan(name: str, q) -> None:
    """Stash the terminated query's last micro-batch executed plan in
    LAST_PLANS. Capture must never fail the query itself."""
    if LAST_PLANS is None:
        return
    try:
        LAST_PLANS[name] = q._jsq.explainInternal(True)
    except Exception as e:  # noqa: BLE001 - the capture records the failure
        LAST_PLANS[name] = f"<capture failed: {type(e).__name__}: {e}>"


# Isolated clones are POOLED per (SparkContext, conf-signature): repeated
# streaming-query invocations in one driver (a test session runs each
# query many times) must not accumulate a fresh SessionState each
# call. The pool is bounded by the number of distinct signatures (3 today).
_SESSION_POOL: dict[tuple, SparkSession] = {}


def _streaming_session(
    spark: SparkSession, n: int = STATE_PARTITIONS, nodata: bool = True
) -> SparkSession:
    """An ISOLATED session (shared SparkContext, private SQLConf) for one
    streaming query. The state-store partition count is a conf-at-query-start
    knob baked into the checkpoint — there is no per-frame repartition
    equivalent — so it must be set via session conf; doing that on the
    caller's session (even under try/finally) leaks plan width to any batch
    query running CONCURRENTLY on the same session. Building the stream on a
    ``newSession()`` clone makes the overrides invisible outside the query:
    no ``spark.conf.set`` ever targets the caller's session in this module.

    ``nodata=False`` additionally disables the trailing no-data micro-batch
    for queries where it is provably pure overhead (see the per-query
    docstrings); same isolation argument.

    Clones are reused from the pool (same SparkContext + same overrides →
    same clone), and ``_run_stream`` unpins each memory-sink result table,
    so repeated invocations hold no growing session or catalog state.
    """
    key = (spark.sparkContext.applicationId, n, bool(nodata))
    sub = _SESSION_POOL.get(key)
    if sub is None or sub.sparkContext._jsc is None:  # new or stopped context
        sub = spark.newSession()
        _SESSION_POOL[key] = sub
    # newSession() conf starts from the SparkContext's static conf, not the
    # caller's runtime values — re-pin the engine's runtime conf (UTC, AQE,
    # Arrow) so the clone behaves identically to a get_spark() session.
    apply_runtime_conf(sub)
    sub.conf.set("spark.sql.shuffle.partitions", str(n))
    if not nodata:
        sub.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    return sub


def _append_sentinel(stream_dir: str) -> None:
    """Append a far-future sentinel event TO THE LAST staged batch file (not a
    batch of its own).

    The watermark advances after the batch that contains the sentinel; the
    final no-data micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``,
    on by default) then emits every closed window. Folding the sentinel into the
    last data batch saves one full state-commit cycle per query versus shipping
    it as its own micro-batch — at fixture scale that fixed cost dominates.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    last = sorted(glob.glob(os.path.join(stream_dir, "batch-*.parquet")))[-1]
    mtime = os.stat(last).st_mtime
    # append driver-side with pyarrow: one row into an existing file — going
    # through a Spark job here would rewrite the whole batch through a single
    # task (measured ~2s/query at sf0.1 for a 1-row append)
    tbl = pq.read_table(last)
    # batches are globally ts-sorted (stage_ordered_batches), so the last row
    # of the last batch IS max(ts) — no Spark scan needed for it either
    max_ts = tbl.column("ts")[-1].as_py()
    sent_vals = {
        "event_id": -1,
        "ts": max_ts + datetime.timedelta(days=10),
        "user_id": -1,
        "event_type": "sentinel",
        "value": 0.0,
        "props": "{}",
    }
    sentinel = pa.Table.from_pydict(
        {f.name: pa.array([sent_vals[f.name]], type=f.type) for f in tbl.schema},
        schema=tbl.schema,
    )
    # int96 timestamps to match the Spark-written sibling batches — Spark's
    # streaming parquet reader rejects arrow's default INT64-nanos encoding
    pq.write_table(
        pa.concat_tables([tbl, sentinel]), last, use_deprecated_int96_timestamps=True
    )
    os.utime(last, (mtime, mtime))


def _events(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, str]:
    """The events table and its staging cache key: every query streaming the
    table unchanged shares one staging."""
    return table(spark, sf_dir, "events"), source_fingerprint(sf_dir, "events")


def _run_stream(
    spark: SparkSession,
    name: str,
    source: DataFrame,
    cache_key: str,
    transform=lambda stream: stream,
    *,
    mode: str = "append",
    partitions: int = STATE_PARTITIONS,
    nodata: bool = True,
    order_col: str = "ts",
    sentinel: bool = False,
    finish=lambda result: result,
    keyed_sink: bool = False,
) -> DataFrame:
    """Run one stream query to completion and return ``finish`` of its result.

    ``source`` is staged as N_BATCHES ordered files under a fresh run
    directory ``.scratch/<name>_<uuid>`` (``stage_cached``; ``cache_key`` must
    identify the source's content, ``order_col`` is the arrival order, and
    ``sentinel`` appends the far-future event), read back as a stream on the
    isolated session, ``transform``-ed, and run with a checkpoint under the
    run directory and an ``availableNow`` trigger. The final plan goes to
    ``_record_stream_plan`` under ``name``.

    The result goes to a memory sink in ``mode``. Once drained, an eager
    localCheckpoint copies the (result-sized) rows into block storage whose
    lifetime is the RETURNED frame's, the sink's temp view is dropped and the
    run directory is removed: nothing stays pinned in the pooled clone's
    catalog or on disk between invocations.

    With ``keyed_sink``, each micro-batch is merged instead into a
    ``KeyedParquetSink`` in the run directory. Its lazy read scans the index
    files there, so the directory lives exactly as long as the returned frame
    object: keep that object referenced while any frame derived from it is
    evaluated.
    """
    run_dir = scratch_dir(f"{name}_{uuid.uuid4().hex[:8]}")
    stream_dir = stage_cached(source, cache_key, run_dir, N_BATCHES, order_col)
    if sentinel:
        _append_sentinel(stream_dir)
    sub = _streaming_session(spark, partitions, nodata)
    writer = transform(read_stream(sub, stream_dir, source.schema)).writeStream
    qname = os.path.basename(run_dir)
    if keyed_sink:
        sink = KeyedParquetSink(run_dir)
        writer = writer.foreachBatch(sink.merge_batch)
    else:
        writer = writer.format("memory").queryName(qname).outputMode(mode)
    q = (
        writer.option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    _record_stream_plan(name, q)
    if keyed_sink:
        out = finish(sink.read(spark))
        weakref.finalize(out, shutil.rmtree, run_dir, ignore_errors=True)
        return out
    out = finish(sub.table(qname)).localCheckpoint(eager=True)
    sub.catalog.dropTempView(qname)
    shutil.rmtree(run_dir)
    return out


def s_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup with watermark: the input is the events table staged TWICE
    (every event arrives again in a later micro-batch); watermarked
    dropDuplicates on event_id must emit each event exactly once.

    State is bounded by the watermark — at 100 TB/day this is the only viable
    dedup: keys older than the watermark are evicted from the state store.

    Bench note (r10 re-measure, quiet host, warm): staging 0.08 s, session
    clone 0.002 s (POOLED — per-query clone cost is not the r9 mover),
    stream 1.15 s, drain 0.33 s. The r8→r9 delta is the drain's eager
    localCheckpoint — a result-sized copy that buys the unpinned-catalog
    invariant; at scale the result goes to a real sink and the copy
    disappears with the memory sink itself.

    No-data batch off (r16): streaming dropDuplicates EMITS each kept row in
    the micro-batch it arrives in (append semantics); the trailing no-data
    batch only advances the watermark for state EVICTION, which after the
    final availableNow batch is pure commit-cycle overhead — measured
    ~0.35 s/query at sf0.1, output rows identical (oracle re-checked).
    """
    e, key = _events(spark, sf_dir)
    return _run_stream(
        spark,
        "s_watermark_dedup",
        e.unionByName(e),
        "2x-" + key,
        lambda s: s.withWatermark("ts", "90 days").dropDuplicates(["event_id"]),
        nodata=False,
    )


SQL_WATERMARK_DEDUP = """
SELECT event_id, ts, user_id, event_type, value, props FROM events
"""


def s_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference pipeline end-to-end, streaming: mutation log → micro-batches →
    foreachBatch LWW merge with tombstones into a keyed parquet sink. Final state
    must equal the batch q_cdc_tombstone snapshot (same oracle)."""
    return _run_stream(
        spark,
        "s_upsert_sink",
        mutations(spark, sf_dir),
        "mut-" + source_fingerprint(sf_dir, "events"),
        keyed_sink=True,
    )


# the streaming sink must converge to exactly the batch tombstone snapshot
SQL_UPSERT_SINK = SQL_CDC_TOMBSTONE


# ---------------------------------------------------------------------------
# s_stateful_profile — custom stateful operator via applyInPandasWithState
# ---------------------------------------------------------------------------

# State partitions for the applyInPandasWithState query only. Unlike the
# JVM-side streaming queries (where per-partition state-commit overhead
# dominates and 8 is right), the Python stage's critical path is the SERIAL
# group loop inside each partition's worker — more partitions shorten it until
# scheduling overhead wins. Measured at sf0.1, median of 3 in one session:
# 2 → 5.4 s, 4 → 3.5 s, 8 → 2.6 s, 16 → 2.1 s, 32 → 2.4 s. Same 100 TB
# posture as STATE_PARTITIONS: a fresh-checkpoint knob, scaled with key
# cardinality and executor count.
PROFILE_STATE_PARTITIONS = 16

_PROFILE_OUT = (
    "user_id long, n_events long, vmin double, vmax double, last_ts timestamp"
)
_PROFILE_STATE = "n_events long, vmin double, vmax double, last_us long"


def _profile_update(key, pdfs, state):
    """Arrow-batched per-user state update. State metrics are deliberately
    order-independent (count/min/max) so the final state is exact regardless of
    micro-batch split — no float-summation order dependence to drift from the
    batch oracle."""
    import pandas as pd

    if state.exists:
        n, vmin, vmax, last_us = state.get
    else:
        n, vmin, vmax, last_us = 0, None, None, None
    for pdf in pdfs:
        n += len(pdf)
        bmin = float(pdf["value"].min())
        bmax = float(pdf["value"].max())
        bus = int(pdf["ts"].max().value // 1_000)
        vmin = bmin if vmin is None else min(vmin, bmin)
        vmax = bmax if vmax is None else max(vmax, bmax)
        last_us = bus if last_us is None else max(last_us, bus)
    state.update((n, vmin, vmax, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "vmin": [vmin],
            "vmax": [vmax],
            "last_ts": [pd.to_datetime(last_us, unit="us")],
        }
    )


def s_stateful_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: per-user running profile via
    applyInPandasWithState (count, min/max value, last event time).

    This is the escape hatch for operators Spark's built-in streaming aggs can't
    express — arbitrary per-key state with Arrow-batched Python logic. Each
    micro-batch emits the group's updated profile; the final emission per user
    (the one with the highest n_events — strictly increasing per emission) must
    equal the batch GROUP BY, which is the oracle.

    Scale: state is partitioned by user_id in the state store; Arrow transfer is
    per-group-batch, not per-row; watermark-driven timeouts (GroupStateTimeout)
    would bound state for unbounded key spaces — not needed for the fixture's
    closed key set.

    Two overhead cuts, both semantics-neutral under NoTimeout: the trailing
    no-data micro-batch is disabled (it exists to fire event-time timeouts
    and advance watermarks; with NoTimeout and no watermark it can produce
    no output, only a state-commit cycle), and the state partition count is
    raised to PROFILE_STATE_PARTITIONS — the Python stage's critical path is
    the serial per-group loop inside each partition's worker, so unlike the
    JVM-side streaming queries this one gets FASTER with more partitions
    (measured sweep in the constant's comment).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def profiled(stream: DataFrame) -> DataFrame:
        return stream.groupBy("user_id").applyInPandasWithState(
            _profile_update,
            outputStructType=_PROFILE_OUT,
            stateStructType=_PROFILE_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    def last_emission(emitted: DataFrame) -> DataFrame:
        w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
        return (
            emitted.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events", "vmin", "vmax", "last_ts")
        )

    return _run_stream(
        spark,
        "s_stateful_profile",
        *_events(spark, sf_dir),
        profiled,
        mode="update",
        partitions=PROFILE_STATE_PARTITIONS,
        nodata=False,
        finish=last_emission,
    )


SQL_STATEFUL_PROFILE = """
SELECT user_id,
       COUNT(*) AS n_events,
       MIN(value) AS vmin,
       MAX(value) AS vmax,
       MAX(ts) AS last_ts
FROM events
GROUP BY user_id
"""


# ---------------------------------------------------------------------------
# s_win_stream — true readStream twin of s_win_tumbling (append + watermark)
# ---------------------------------------------------------------------------


def s_win_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregation over a REAL stream, append mode.

    The batch twin (s_win_tumbling) runs the same expressions over the static
    table; here the windows accumulate across micro-batches and each window is
    emitted exactly once when the watermark passes its end — the production
    late-data discipline. A far-future sentinel event folded into the final
    micro-batch pushes the watermark past every real window so the append-mode
    output converges to exactly the batch result (the sentinel's own window
    stays un-emitted in state, and is excluded by event_type).

    Scale: state is one row per (window, event_type); the watermark bounds it —
    windows older than the lateness horizon are evicted on emission.
    """

    def windowed(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
            .select(
                F.col("w.start").alias("win_start"),
                F.col("w.end").alias("win_end"),
                "event_type",
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(
        spark,
        "s_win_stream",
        *_events(spark, sf_dir),
        windowed,
        sentinel=True,
        finish=lambda t: t.filter(F.col("event_type") != "sentinel"),
    )


# append-mode stream must converge to exactly the batch tumbling-window result
from .windows import SQL_WIN_TUMBLING as SQL_WIN_STREAM  # noqa: E402


def s_session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under a TRUE stream — the merging-interval state path.

    Unlike tumbling windows (fixed assignment), streaming session windows MERGE
    state: a new event can fuse two open sessions of the same user into one.
    Same convergence scheme as s_win_stream: watermarked append mode + a
    far-future sentinel to flush every real session; result must equal the batch
    gap-islands oracle (s_win_session's SQL). The sentinel's own session stays
    open in state and its user is excluded.

    Scale: state per (user, open session interval), merged within key partitions
    and evicted when the watermark passes a session's close — the bounded-state
    form of per-entity sessionization at 100 TB/day.
    """

    def sessions(stream: DataFrame) -> DataFrame:
        return (
            stream.withWatermark("ts", "1 hour")
            .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value"))
            .select(
                "user_id",
                F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"),
                "n_events",
                "sum_value",
            )
        )

    return _run_stream(
        spark,
        "s_session_stream",
        *_events(spark, sf_dir),
        sessions,
        sentinel=True,
        finish=lambda t: t.filter(F.col("user_id") != -1),
    )


from .windows import SQL_WIN_SESSION as SQL_SESSION_STREAM  # noqa: E402


def s_join_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join — two live streams joined on a key plus an
    event-time band, the streaming twin of the batch q_join_range.

    Both sides carry a watermark and the join condition bounds b.ts within
    (a.ts, a.ts + 10 min], which is what lets Spark DERIVE the state retention:
    an a-side row is held only until the b-side watermark passes a.ts + 10 min,
    then evicted — bounded state at any stream length, no manual TTL. Matches
    emit as soon as both sides have arrived (inner join, append mode), so no
    sentinel is needed; the result must equal the batch range join exactly.

    Scale: state is partitioned by user_id; the interval bound keeps per-key
    state to a 10-minute window of rows — the 100 TB/day form of correlating
    two event feeds (clicks⋈impressions, order⋈shipment) without a batch join
    over unbounded history.

    Two deliberate commit-cycle savings (both semantics-neutral for an INNER
    interval join, whose matches emit in the micro-batch where both sides are
    present): the two join inputs derive from ONE file-source instance (a true
    self-join — one source to list and read per micro-batch), and the trailing
    no-data micro-batch is disabled for this query only — it exists to advance
    the watermark for state EVICTION and outer-join null emission, and can
    contribute no inner-join output rows.
    """

    def joined(stream: DataFrame) -> DataFrame:
        s = stream.withWatermark("ts", "1 hour")
        a = s.select(
            F.col("user_id"),
            F.col("event_id").alias("a_id"),
            F.col("ts").alias("a_ts"),
        )
        b = s.select(
            F.col("user_id").alias("b_user"),
            F.col("event_id").alias("b_id"),
            F.col("ts").alias("b_ts"),
        )
        return a.join(
            b,
            (a.user_id == b.b_user)
            & (F.col("b_ts") > F.col("a_ts"))
            & (F.col("b_ts") <= F.col("a_ts") + F.expr("INTERVAL 10 MINUTES")),
        ).select(
            "user_id",
            "a_id",
            "b_id",
            (F.unix_micros("b_ts") - F.unix_micros("a_ts")).alias("gap_us"),
        )

    # no-data batch off: inner join emits on arrival, see docstring
    return _run_stream(
        spark, "s_join_stream", *_events(spark, sf_dir), joined, nodata=False
    )


from ..operators.relational import SQL_JOIN_RANGE as SQL_JOIN_STREAM  # noqa: E402


TERMS_STREAM_N = 3


def s_terms_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Live ES `terms` aggregation over a REAL stream in COMPLETE output mode —
    the "top event types right now" dashboard query. Counts and sums keep
    changing as batches arrive, so neither append (rows never finalize without
    a watermarked window) nor update (memory sink would hold stale rows) fits:
    complete mode re-emits the whole (cardinality-bounded) aggregate each
    micro-batch, converging to exactly the batch terms agg once the source
    drains. The top-N cut runs over the final materialized aggregate, the same
    place ES applies `size` to a terms agg.

    Scale: complete mode is only sane because the result IS bounded (one row
    per term) — the state and the re-emitted sink are term-cardinality-sized,
    never row-sized. A row-scale complete-mode sink would be a scale bug.
    """
    return _run_stream(
        spark,
        "s_terms_stream",
        *_events(spark, sf_dir),
        lambda s: s.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_value")
        ),
        mode="complete",
        finish=lambda t: t.orderBy(F.desc("n_events"), F.asc("event_type")).limit(
            TERMS_STREAM_N
        ),
    )


SQL_TERMS_STREAM = f"""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY event_type
ORDER BY n_events DESC, event_type ASC
LIMIT {TERMS_STREAM_N}
"""


QUERIES = {
    "s_watermark_dedup": s_watermark_dedup,
    "s_upsert_sink": s_upsert_sink,
    "s_stateful_profile": s_stateful_profile,
    "s_win_stream": s_win_stream,
    "s_session_stream": s_session_stream,
    "s_join_stream": s_join_stream,
    "s_terms_stream": s_terms_stream,
}

ORACLES = {
    "s_watermark_dedup": SQL_WATERMARK_DEDUP,
    "s_upsert_sink": SQL_UPSERT_SINK,
    "s_stateful_profile": SQL_STATEFUL_PROFILE,
    "s_win_stream": SQL_WIN_STREAM,
    "s_session_stream": SQL_SESSION_STREAM,
    "s_join_stream": SQL_JOIN_STREAM,
    "s_terms_stream": SQL_TERMS_STREAM,
}
