"""HBase REST (Stargate) cell-set JSON source — the input-endpoint twin of
``sinks/es_bulk.py``.

The reference's input is the coprocessor hook stream: ``postPut`` hands it a
``Put``'s family→cell map, ``postDelete`` a row key
(HbaseDataSyncEsObserver.java:68-80, :95-104 in /root/reference). No HBase runs
in this sandbox, but HBase's REST gateway exposes the same cells in a PUBLIC,
documented wire format — the cell-set JSON every Stargate scanner/getter
emits::

    {"Row": [{"key": "<base64 rowkey>",
              "Cell": [{"column": "<base64 'family:qualifier'>",
                        "timestamp": 1704067200000,
                        "$": "<base64 value>"}]}]}

This module parses NDJSON lines of that format (one cell-set document per
line — one Put's worth of cells, matching the per-RPC granularity of the
coprocessor) into the engine's mutation contract
(cdc.py: row_key, qualifier, value, op, ts), entirely JVM-side:
``from_json`` → ``explode`` → ``unbase64`` — no Python in the path, so the
source scales like any other scan.

Semantics mapped to the reference:

* family handling — the coprocessor flattens all families into one qualifier
  map, dropping the family (SURVEY A5); here the base64 ``column`` decodes to
  ``family:qualifier`` and the family prefix is stripped the same way.
  Same-qualifier collisions across families resolve downstream by the
  engine's deterministic LWW rule (DIVERGENCES D4), not map-iteration order.
* timestamps — Stargate reports epoch MILLISECONDS; converted to the
  engine's timestamp type exactly (no sub-ms truncation surprises).
* deletes — REST deletes are bodyless ``DELETE /table/row`` calls with no
  cell-set representation, exactly as ``postDelete`` carries only the row key
  (:97-98). They are logged as ``{"delete": "<base64 rowkey>", "timestamp":
  ms}`` lines (the natural log form of the DELETE call), interleaved with the
  cell-set lines in the same change log.

``parse_change_log`` is the one parser. Scale: it is a map-only projection
over a text scan — no shuffle, no UDF; at 100 TB the JSON lines partition like
any text source and the parse stays in whole-stage codegen. Streaming works
unchanged: point ``spark.readStream.text`` at the log directory and apply
``parse_change_log`` (its expressions are pure column transforms).
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# one line of the change log: a cell-set document (``Row``) or a delete
# (``delete`` + ``timestamp``); a line fills the fields of its own kind
_MIXED_SCHEMA = T.StructType(
    [
        T.StructField(
            "Row",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("key", T.StringType()),
                        T.StructField(
                            "Cell",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("column", T.StringType()),
                                        T.StructField("timestamp", T.LongType()),
                                        T.StructField("$", T.StringType()),
                                    ]
                                )
                            ),
                        ),
                    ]
                )
            ),
        ),
        T.StructField("delete", T.StringType()),
        T.StructField("timestamp", T.LongType()),
    ]
)


def _b64_str(col):
    return F.unbase64(col).cast("string")


def _upsert_struct(key, col, val, ts_ms):
    """THE single cell decode, as one mutation struct: base64 row key,
    first-colon family strip ('family:qualifier' → qualifier — family names
    cannot contain ':', qualifiers can, per CellUtil.cloneQualifier; family
    dropped per SURVEY A5 / D4), base64 value, epoch-ms timestamp."""
    return F.struct(
        _b64_str(key).alias("row_key"),
        F.regexp_replace(_b64_str(col), "^[^:]*:", "").alias("qualifier"),
        _b64_str(val).alias("value"),
        F.lit("upsert").alias("op"),
        F.timestamp_millis(ts_ms).alias("ts"),
    )


def _delete_struct(key, ts_ms):
    """Whole-row tombstone struct (qualifier/value NULL, the reference's
    postDelete granularity)."""
    return F.struct(
        _b64_str(key).alias("row_key"),
        F.lit(None).cast("string").alias("qualifier"),
        F.lit(None).cast("string").alias("value"),
        F.lit("delete").alias("op"),
        F.timestamp_millis(ts_ms).alias("ts"),
    )


_MUT_STRUCT = (
    "array<struct<row_key:string,qualifier:string,value:string,"
    "op:string,ts:timestamp>>"
)


def parse_change_log(lines: DataFrame) -> DataFrame:
    """A mixed NDJSON log (cell-set and delete lines interleaved, as a REST
    access log would record them) → the full mutation stream.

    TRUE single pass: one ``from_json`` against the merged schema, then each
    line's mutations are assembled as ONE array (cell upserts ++ optional
    delete) with higher-order functions and exploded once. A union of two
    projections would plan TWO scans of the source (Spark reuses shuffles,
    not scan subtrees); at 100 TB the text scan and JSON parse are the
    dominant cost and must happen once — pinned by the single-scan plan test.
    """
    parsed = lines.select(
        F.from_json(F.col("value"), _MIXED_SCHEMA).alias("doc")
    ).filter(F.col("doc").isNotNull())
    upsert_muts = F.flatten(
        F.transform(
            F.coalesce(F.col("doc.Row"), F.expr("array()")),
            lambda row: F.transform(
                F.coalesce(row["Cell"], F.expr("array()")),
                lambda c: _upsert_struct(
                    row["key"], c["column"], c["$"], c["timestamp"]
                ),
            ),
        )
    ).cast(_MUT_STRUCT)
    delete_muts = F.when(
        F.col("doc.delete").isNotNull(),
        F.array(_delete_struct(F.col("doc.delete"), F.col("doc.timestamp"))),
    ).otherwise(F.expr("array()").cast(_MUT_STRUCT)).cast(_MUT_STRUCT)
    return parsed.select(
        F.explode(F.concat(upsert_muts, delete_muts)).alias("m")
    ).select("m.row_key", "m.qualifier", "m.value", "m.op", "m.ts")


# -- test/fixture helpers (driver-side, bounded) ------------------------------


def encode_cellset(row_key: str, cells: list[tuple[str, str, int]]) -> str:
    """One Put as a cell-set JSON line: cells = [(family:qualifier, value,
    ts_ms)]. Driver-side fixture builder — the inverse of parse_change_log, used
    by tests to golden-check the decode without an HBase to talk to."""
    b64 = lambda s: base64.b64encode(s.encode()).decode()  # noqa: E731
    return json.dumps(
        {
            "Row": [
                {
                    "key": b64(row_key),
                    "Cell": [
                        {"column": b64(col), "timestamp": ts, "$": b64(val)}
                        for col, val, ts in cells
                    ],
                }
            ]
        },
        separators=(",", ":"),
    )


def encode_delete(row_key: str, ts_ms: int) -> str:
    b64 = base64.b64encode(row_key.encode()).decode()
    return json.dumps({"delete": b64, "timestamp": ts_ms}, separators=(",", ":"))
