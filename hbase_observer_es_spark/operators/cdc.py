"""CDC materialization: the reference's actual semantics, Spark-first.

The reference intercepts HBase row mutations and mirrors them into Elasticsearch as
partial-document upserts / whole-document deletes
(/root/reference/src/main/java/langya/hbase/observer/util/HbaseDataSyncEsObserver.java:69-108):

* A5 cell flatten: family→cells iterated into a flat {qualifier: value} map, later
  write wins on qualifier collision (HbaseDataSyncEsObserver.java:72-80).
* A7 upsert: setDocAsUpsert(true) — a Put carrying some qualifiers merges into the
  existing doc (partial-document merge), keyed by rowkey string
  (HbaseDataSyncEsObserver.java:85-89).
* A8 delete: whole-document delete by rowkey — a column Delete is widened to the
  full doc (HbaseDataSyncEsObserver.java:101-104).
* Conflict resolution is arrival order (cell timestamps dropped, SURVEY.md §1.2);
  here we keep an explicit ts and make last-write-wins deterministic — a
  deliberate improvement, logged per SURVEY.md §7.

Operators below work on ANY mutation-shaped DataFrame
(row_key STRING, qualifier STRING, value STRING, op STRING, ts TIMESTAMP) — the
q_* fixtures bind them to the `mutations` view derived from events (FIXTURES.md).

Scale posture: every operator is a keyed window/agg — partitions by row_key
(,qualifier), no driver-side state, no collect. At 100 TB the snapshot is one
shuffle on the key; skewed hot keys are handled by AQE. This replaces the
reference's single global ReentrantLock buffer (ElasticsearchBulkOperator.java:47)
— the scalability ceiling the Spark rebuild removes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table

# Shared mutation-log view contract (FIXTURES.md "mutations"): Spark and the DuckDB
# oracle must derive it identically or hashes can't match.
SQL_MUTATIONS = """
SELECT CAST(user_id AS VARCHAR) AS row_key,
       event_type AS qualifier,
       CAST(value AS VARCHAR) AS value,
       CASE WHEN event_type = 'error' THEN 'delete' ELSE 'upsert' END AS op,
       ts
FROM events
"""

QUALIFIERS = ("click", "error", "purchase", "signup", "view")


def mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The HBase change-log-shaped view of events (FIXTURES.md contract)."""
    e = table(spark, sf_dir, "events")
    return e.select(
        F.col("user_id").cast("string").alias("row_key"),
        F.col("event_type").alias("qualifier"),
        F.col("value").cast("string").alias("value"),
        F.when(F.col("event_type") == "error", "delete")
        .otherwise("upsert")
        .alias("op"),
        "ts",
    )


# ---------------------------------------------------------------------------
# reusable operators (the engine API)
# ---------------------------------------------------------------------------


def latest_cell_state(mut: DataFrame) -> DataFrame:
    """A5+A7: last-write-wins value per (row_key, qualifier), upserts only —
    ``resolve_cells`` over the upsert rows, so the same ts-then-value rank.

    Window dedup instead of the reference's arrival-order overwrite: deterministic
    under any partitioning, idempotent under log replay (property-tested).
    """
    return resolve_cells(mut.filter(F.col("op") == "upsert")).drop("op")


def resolve_cells(
    mut: DataFrame, keep_deletes: str = "false", seq: str | None = None
) -> DataFrame:
    """LWW + tombstone resolution of a mutation log, as one hash exchange on
    ``row_key`` feeding two windows (no join): the key's latest delete ts, then
    the rank of each surviving cell version per ``(row_key, op, qualifier)``,
    ts then value descending. An upsert survives only if it is NEWER than the
    key's latest delete (delete wins ties).

    ``seq`` names an arrival-order column (a micro-batch number): a delete then
    hides only upserts of its own or an earlier ``seq``, so an old upsert
    arriving after a delete re-creates the doc — the arrival-order semantics of
    the reference (HbaseDataSyncEsObserver.java:101-104). Where the SQL
    predicate ``keep_deletes`` holds, each key's latest delete is kept as an
    ``op='delete'`` row, so the output can be resolved again together with
    later mutations. Columns: row_key, qualifier, value, ts, op.

    One SQL statement, so the plan is analysed once: each DataFrame call
    re-analyses the plan so far, and this runs on every sink commit and read."""
    frame = (
        f"ORDER BY {seq} DESC RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
        if seq else ""
    )
    return mut.sparkSession.sql(
        f"""
        SELECT row_key, qualifier, value, ts, op FROM (
            SELECT *, row_number() OVER (PARTITION BY row_key, op, qualifier
                                         ORDER BY ts DESC, value DESC) AS rn
            FROM (
                SELECT *, max(IF(op = 'delete', ts, NULL))
                              OVER (PARTITION BY row_key {frame}) AS del_ts
                FROM {{mut}}
            )
            WHERE op = 'upsert' AND (del_ts IS NULL OR ts > del_ts)
               OR op = 'delete' AND ({keep_deletes})
        )
        WHERE rn = 1
        """,
        mut=mut,
    )


def apply_tombstones(mut: DataFrame) -> DataFrame:
    """A8: whole-document tombstones. A qualifier value survives only if its latest
    upsert is NEWER than the key's latest delete; an upsert after the delete
    re-creates the doc (ES delete-then-index semantics)."""
    return resolve_cells(mut).drop("op")


def pivot_cells(mut: DataFrame, qualifiers: tuple[str, ...] = QUALIFIERS) -> DataFrame:
    """A5 wide form: tall (key, qualifier, value) → one row per key with a column
    per qualifier, latest value wins. Explicit qualifier list keeps the schema
    static (no extra distinct-scan job) — mandatory at 100 TB."""
    return (
        mut.groupBy("row_key")
        .pivot("qualifier", list(qualifiers))
        .agg(F.max_by("value", "ts"))
    )


def merge_documents(mut: DataFrame) -> DataFrame:
    """A5+A7+A8 end-to-end: the materialized "document" per live row_key, as a
    deterministic serialized form of the qualifier map (map-union of partial
    upserts, post-tombstone). This is the Spark analogue of the ES doc the
    reference maintains per rowkey."""
    live = apply_tombstones(mut)
    return live.groupBy("row_key").agg(
        F.concat_ws(
            ",",
            F.sort_array(F.collect_list(F.concat_ws("=", "qualifier", "value"))),
        ).alias("doc"),
        F.count(F.lit(1)).alias("n_fields"),
        F.max("ts").alias("last_ts"),
    )


# ---------------------------------------------------------------------------
# fixture-bound queries + oracles
# ---------------------------------------------------------------------------


def q_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return latest_cell_state(mutations(spark, sf_dir))


SQL_CDC_SNAPSHOT = f"""
WITH mutations AS ({SQL_MUTATIONS})
SELECT row_key, qualifier, value, ts
FROM (
    SELECT row_key, qualifier, value, ts,
           row_number() OVER (PARTITION BY row_key, qualifier
                              ORDER BY ts DESC, value DESC) AS rn
    FROM mutations WHERE op = 'upsert'
)
WHERE rn = 1
"""


def q_cdc_tombstone(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_tombstones(mutations(spark, sf_dir))


SQL_CDC_TOMBSTONE = f"""
WITH mutations AS ({SQL_MUTATIONS}),
live AS (
    SELECT row_key, qualifier, value, ts
    FROM (
        SELECT row_key, qualifier, value, ts,
               row_number() OVER (PARTITION BY row_key, qualifier
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM mutations WHERE op = 'upsert'
    )
    WHERE rn = 1
),
last_del AS (
    SELECT row_key, max(ts) AS del_ts FROM mutations
    WHERE op = 'delete' GROUP BY row_key
)
SELECT l.row_key, l.qualifier, l.value, l.ts
FROM live l LEFT JOIN last_del d ON l.row_key = d.row_key
WHERE d.del_ts IS NULL OR l.ts > d.del_ts
"""


def q_cell_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pivot_cells(mutations(spark, sf_dir))


SQL_CELL_PIVOT = f"""
WITH mutations AS ({SQL_MUTATIONS})
SELECT row_key,
       arg_max(value, ts) FILTER (WHERE qualifier = 'click')    AS click,
       arg_max(value, ts) FILTER (WHERE qualifier = 'error')    AS error,
       arg_max(value, ts) FILTER (WHERE qualifier = 'purchase') AS purchase,
       arg_max(value, ts) FILTER (WHERE qualifier = 'signup')   AS signup,
       arg_max(value, ts) FILTER (WHERE qualifier = 'view')     AS view
FROM mutations
GROUP BY row_key
"""


def q_cdc_doc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_documents(mutations(spark, sf_dir))


SQL_CDC_DOC_MERGE = f"""
WITH mutations AS ({SQL_MUTATIONS}),
live AS (
    SELECT row_key, qualifier, value, ts
    FROM (
        SELECT row_key, qualifier, value, ts,
               row_number() OVER (PARTITION BY row_key, qualifier
                                  ORDER BY ts DESC, value DESC) AS rn
        FROM mutations WHERE op = 'upsert'
    )
    WHERE rn = 1
),
last_del AS (
    SELECT row_key, max(ts) AS del_ts FROM mutations
    WHERE op = 'delete' GROUP BY row_key
),
alive AS (
    SELECT l.row_key, l.qualifier, l.value, l.ts
    FROM live l LEFT JOIN last_del d ON l.row_key = d.row_key
    WHERE d.del_ts IS NULL OR l.ts > d.del_ts
)
SELECT row_key,
       string_agg(qualifier || '=' || value, ',' ORDER BY qualifier || '=' || value) AS doc,
       COUNT(*) AS n_fields,
       MAX(ts) AS last_ts
FROM alive
GROUP BY row_key
"""


QUERIES = {
    "q_cdc_snapshot": q_cdc_snapshot,
    "q_cdc_tombstone": q_cdc_tombstone,
    "q_cell_pivot": q_cell_pivot,
    "q_cdc_doc_merge": q_cdc_doc_merge,
}

ORACLES = {
    "q_cdc_snapshot": SQL_CDC_SNAPSHOT,
    "q_cdc_tombstone": SQL_CDC_TOMBSTONE,
    "q_cell_pivot": SQL_CELL_PIVOT,
    "q_cdc_doc_merge": SQL_CDC_DOC_MERGE,
}
