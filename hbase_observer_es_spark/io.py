"""Table loading for the /root/testdata parquet fixtures (schemas: FIXTURES.md).

All reads go through ``table()`` so every operator gets the same columnar scan path:
``spark.read.parquet`` → Catalyst pushes filters/pruning into the scan. At 100 TB the
only change is the path (a partitioned table / catalog name) — operators never care.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from .session import apply_runtime_conf

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Zone ids that are SEMANTICALLY UTC (offset +00:00, no DST): the events-loading
# guard below must not reject a correctly-configured session just because it
# spells UTC differently. Genuinely non-UTC zones still fail loudly.
_UTC_ZONE_IDS = frozenset(
    {"UTC", "Etc/UTC", "GMT", "GMT0", "Etc/GMT", "Etc/GMT0", "Etc/GMT+0",
     "Etc/GMT-0", "Greenwich", "Etc/Greenwich", "Universal", "Etc/Universal",
     "Zulu", "Etc/Zulu", "UCT", "Etc/UCT", "Z", "+00:00", "GMT+00:00",
     "UTC+00:00"}
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table.

    Plain ``spark.read.parquet`` keeps predicate pushdown / column pruning intact —
    caching the *data* here would defeat Catalyst's scan pruning, so nothing is
    ever persisted. The lazy base FRAME, however, is memoized per
    (session, sf_dir, name): ``spark.read.parquet`` pays driver-side file
    listing + parquet footer schema inference + ~10 py4j round trips on every
    call, repeated for every query in a bench/sweep session over the same
    static fixture directory (r16 measurement: ~20-40 ms/call, thousands of
    calls/session). Reusing the unresolved logical plan is exactly what
    ``spark.table()`` on a catalog view does — each query still applies its
    own filters/projection and Catalyst re-optimizes per query, so pushdown,
    pruning and the executed scan are unchanged, and every execution still
    reads the parquet files. The memo holds plan metadata only (never rows)
    and lives for the session's lifetime, matching Spark's own per-session
    file-status caching; fixture directories are immutable per run.

    ``events.ts`` has shipped in two physical encodings across fixture versions:
    parquet TIMESTAMP(NANOS) (which Spark's vectorized reader rejects — read nanos
    as long, truncate to micros) and plain TIMESTAMP(MICROS) (read natively, arrives
    as TIMESTAMP_NTZ under Spark 4's NTZ inference). Both normalize to session-TZ
    TimestampType here; the session TZ is pinned UTC (session.py), so the cast is
    wall-value-preserving and matches what DuckDB reads from the same file.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    apply_runtime_conf(spark)
    if name == "events":
        # The NTZ->timestamp cast below is wall-preserving only under UTC, and
        # apply_runtime_conf silently skips conf keys a harness made static — so
        # a non-UTC session must fail loudly here, not shift every ts value
        # relative to the DuckDB oracle. Checked on EVERY call (not just cache
        # miss): the cast resolves against the session TZ at execution time,
        # so a mid-session TZ change must fail even on a memoized frame.
        tz = spark.conf.get("spark.sql.session.timeZone")
        if tz not in _UTC_ZONE_IDS:
            raise RuntimeError(
                f"events.ts requires a UTC session timezone, got {tz!r}; "
                "the session was created with a static non-UTC timezone"
            )
    cache: dict[tuple[str, str], DataFrame]
    cache = getattr(spark, "_hoes_table_cache", None)  # type: ignore[assignment]
    if cache is None:
        cache = {}
        try:
            spark._hoes_table_cache = cache  # type: ignore[attr-defined]
        except Exception:  # pragma: no cover - exotic session proxies
            pass
    # realpath-normalized key (r17, ADVICE): path aliases (trailing slash,
    # relative vs absolute, symlinks) must hit one entry, not silently
    # duplicate the listing work the memo exists to remove
    key = (os.path.realpath(sf_dir), name)
    hit = cache.get(key)
    if hit is not None:
        return hit
    df = _read_table(spark, sf_dir, name)
    cache[key] = df
    return df


def _read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The uncached read path (one py4j read + the events-ts normalization).
    The UTC-session guard for events runs in ``table()`` (every call)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):  # nanos file read under nanosAsLong
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# fan_out: skip the spread when the scan already has cluster-scale input.
# 64 MB = half a default scan split: below it the whole table reaches one
# scan task, so the repartition costs at most one small-table shuffle.
_FAN_OUT_MAX_BYTES = 64 << 20


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition of a SMALL scan to the session's core count,
    so a compute-heavy per-row pipeline (tokenize/shingle/explode/UDF)
    parallelizes instead of serializing inside the scan stage.

    Why: a parquet input smaller than one scan split
    (``spark.sql.files.maxPartitionBytes``, default 128 MB) arrives as ONE
    task, and everything Catalyst collapses into the scan stage — span
    explosion, rolling hashes, Python evaluation — runs on one core while
    the rest of the cluster idles (r17 measurement: the span pipeline over
    the 584 KB fixture documents table ran 2.6× faster with the spread;
    guide §2.5 "input skew … repartition immediately after the read").

    Scale-adaptive gate (guide §2: never a constant tuned for one mode):
    the spread happens ONLY when the frame's total input is under
    ``_FAN_OUT_MAX_BYTES`` — i.e. exactly when the scan cannot parallelize
    itself. A cluster-scale input already produces ≥ cores splits, and
    round-robin-shuffling it would be a pure pessimization, so it is left
    alone; the shuffle this helper CAN introduce is bounded by the gate.
    Any frame whose input cannot be sized locally (non-file sources,
    non-scan frames) is returned unchanged. Results are partitioning-
    independent by the engine's adversarial-sweep invariant, so the spread
    never changes what a query computes — only where it runs.
    """
    try:
        files = df.inputFiles()
    except Exception:
        return df
    total = 0
    from urllib.parse import urlparse

    for uri in files:
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return df
        try:
            total += os.path.getsize(parsed.path or uri)
        except OSError:
            return df
    if total >= _FAN_OUT_MAX_BYTES:
        return df
    spark = df.sparkSession
    return df.repartition(spark.sparkContext.defaultParallelism)


# call-site key -> the live persisted frame from that site's LAST invocation
_TRACKED_CACHE: dict[str, DataFrame] = {}


def persist_tracked(df: DataFrame, key: str) -> DataFrame:
    """Persist a frame that must outlive its query function.

    Query functions return LAZY results — a plain ``persist()`` inside them
    can't be paired with an ``unpersist()`` before return (the cache has to
    survive until the caller materializes the result), so in a long session
    (bench harness, notebook) those caches accumulate without bound. This
    keeps at most ONE live cached frame per call site: re-invoking the same
    site releases the previous invocation's frame first.
    """
    prev = _TRACKED_CACHE.pop(key, None)
    if prev is not None:
        try:
            prev.unpersist()
        except Exception:
            pass  # owning session already stopped — nothing left to free
    _TRACKED_CACHE[key] = df.persist()
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for ad-hoc ``spark.sql``.

    The reference's end users query through the ES search API; this engine's
    equivalent ad-hoc surface is Spark SQL itself — after this call any ANSI
    query over the ten tables runs through the same pruned/pushed-down scans the
    operator modules use (views are lazy; no materialization happens here).
    """
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
