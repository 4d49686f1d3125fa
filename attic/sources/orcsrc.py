"""ORC batch source/sink — the columnar interchange boundary.

Hive/Trino-centric pipelines land tables as ORC; this source makes those
directly ingestable with the same loud-contract posture as the JSONL/CSV
twins (`attic/sources/jsonl.py`, `attic/sources/csvsrc.py`), adjusted for a columnar
self-describing format:

* **Schema is verified, not inferred-and-trusted.** An ORC file carries its
  own schema, so unlike text there is no inference pass to forbid — the
  hazard is DRIFT: a vendor re-dump that renames a column, widens a type, or
  reorders fields would flow through an unchecked read and surface three
  jobs later as nulls or cast garbage. ``read_orc`` reads the FILE schema
  (footer only, no data scan), requires it to match the declared
  ``StructType`` field-for-field — same names, same types, same order, same
  nullability-compatible shape — and fails loudly on any difference.
* **Binary columns are ALLOWED.** The text twins reject BinaryType because
  base64/JSON round-trips are version-fragile; ORC carries binary natively
  and losslessly, so this is the sanctioned ingest path for multimodal
  payloads (`operators/multimodal.py` binary columns) arriving from an
  ORC-producing pipeline.
* **Null vs empty string is native.** No ``\\N`` sentinel, no collision
  class: ORC distinguishes NULL from "" structurally (the CSV twin's whole
  sentinel discipline exists because text cannot).
* **ORC is an INGEST format here, not the serving format.** Spark's ORC
  reader does push down predicates and prune columns, so querying it
  directly is not wrong — but the engine's canonical store is parquet
  (io.table: footer statistics, aggregate pushdown conf, the bucketed-join
  warehouse), so the documented pipeline is land ORC → ``orc_to_parquet``
  once → serve from parquet, mirroring ``jsonl_to_parquet``.
* **Timestamps need no format pinning.** ORC stores timestamps as typed
  values (no string round-trip); with the session pinned UTC (session.py)
  micros survive exactly — pinned by the round-trip test on the events
  table.

Avro: Spark ships it as an external module (``spark-avro``) absent here,
but the container FORMAT is public spec — ``attic/sources/avrosrc.py`` implements
the tabular subset directly (spec-golden-tested), completing the interchange
ladder without the missing module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hbase_observer_es_spark.session import apply_runtime_conf


def write_orc(df: DataFrame, path: str) -> None:
    """Write a frame as snappy-compressed ORC (splittable, columnar)."""
    df.write.mode("overwrite").option("compression", "snappy").orc(path)


def read_orc(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read ORC and VERIFY the file schema matches the declared one exactly
    (module docstring) — footer-only check, loud failure on drift."""
    apply_runtime_conf(spark)
    actual = spark.read.orc(path).schema
    declared = [(f.name, f.dataType) for f in schema.fields]
    found = [(f.name, f.dataType) for f in actual.fields]
    if declared != found:
        raise TypeError(
            "ORC source: file schema does not match the declared schema.\n"
            f"  declared: {declared}\n"
            f"  found:    {found}\n"
            "Schema drift at an ingest boundary must fail loudly; regenerate "
            "the dump or update the declared contract deliberately."
        )
    return spark.read.schema(schema).orc(path)


def orc_to_parquet(
    spark: SparkSession, orc_path: str, schema: T.StructType, parquet_path: str
) -> None:
    """The landing conversion: one schema-verified pass over the ORC dump,
    written as parquet — the same single-pass query accelerator as
    jsonl_to_parquet, minus the text parse."""
    read_orc(spark, orc_path, schema).write.mode("overwrite").parquet(parquet_path)
