"""JSON-lines batch source/sink — the raw-ingest interchange format.

Training-data pipelines receive vendor/crawl dumps as JSONL long before
anything is columnar, and the reference's own wire formats are JSON
(`sources/hbase_rest.py` parses the HBase REST cell-set; `sinks/es_bulk.py`
emits `_bulk` NDJSON). This module is the generic batch counterpart: read
and write whole TABLES as JSONL with an EXPLICIT schema.

Design rules (the 100 TB posture):

* **No schema inference.** ``spark.read.json`` without a schema runs a full
  extra pass over the data to sample types and can silently widen (long →
  double) or null out columns that a later file contradicts. Every read here
  takes an explicit ``StructType`` and parses in ``FAILFAST`` mode — a
  malformed line fails the job instead of becoming a row of nulls.
* **JSONL is the INGEST format, not the serving format.** A JSONL scan is
  row-oriented text: no column pruning, no predicate pushdown, no row-group
  statistics — every query pays the full parse. The documented pipeline is
  land JSONL → ``jsonl_to_parquet`` once → serve every query from parquet
  (io.table). Nothing in the operator modules reads JSONL.
* **Type surface is fenced.** BinaryType round-trips through Spark's JSON
  datasource as base64 with reader quirks across versions; rather than risk
  silent corruption this source REJECTS binary columns loudly (the fixture
  tables carry none; multimodal payloads stay parquet/columnar).
* **Timestamps are UTC-pinned and MICROSECOND-exact.** JSON serializes
  timestamps as ISO strings in the session timezone; the session is pinned
  UTC (session.py). Spark's DEFAULT ``timestampFormat`` truncates to
  milliseconds on write — a silent 1000x precision loss — so both sides
  pin an explicit 6-fraction-digit format (``_TS_FORMAT``); the round-trip
  is value-identical down to the micro (pinned by tests/test_jsonl.py on
  the events table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hbase_observer_es_spark.session import apply_runtime_conf

# Spark timestamps are micros-resolution; the default JSON timestampFormat
# writes only .SSS (millis). Six fraction digits round-trip exactly.
_TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"


def _reject_binary(schema: T.StructType) -> None:
    bad = [f.name for f in schema.fields if isinstance(f.dataType, T.BinaryType)]
    if bad:
        raise TypeError(
            f"JSONL source does not carry binary columns {bad}; "
            "keep binary payloads in parquet (io.table)"
        )


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a frame as JSON-lines (one object per line, UTF-8). Binary
    columns are rejected (module docstring)."""
    _reject_binary(df.schema)
    df.write.mode("overwrite").option("timestampFormat", _TS_FORMAT).json(path)


def read_jsonl(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read JSONL under an EXPLICIT schema, FAILFAST on malformed lines.

    The schema is authoritative: no inference pass, no silent widening, and
    a line that does not parse as the declared types kills the job loudly —
    the only acceptable behavior for an ingest boundary."""
    _reject_binary(schema)
    apply_runtime_conf(spark)
    return (
        spark.read.schema(schema)
        .option("mode", "FAILFAST")
        .option("timestampFormat", _TS_FORMAT)
        .json(path)
    )


def parquet_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The authoritative schema for a fixture table, read from the parquet
    FOOTER only (no data scan) — so a JSONL round-trip is type-identical to
    the io.table path."""
    from hbase_observer_es_spark.io import table

    return table(spark, sf_dir, name).schema


def jsonl_to_parquet(
    spark: SparkSession, jsonl_path: str, schema: T.StructType, parquet_path: str
) -> None:
    """The landing conversion: one FAILFAST pass over the JSONL, written as
    parquet. Every downstream query then gets pruned/pushed-down columnar
    scans instead of re-parsing text — at 100 TB this single pass is the
    cheapest query accelerator there is."""
    read_jsonl(spark, jsonl_path, schema).write.mode("overwrite").parquet(parquet_path)
