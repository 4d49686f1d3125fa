"""CSV batch source/sink — the second raw-ingest interchange format.

Same contract as the JSONL source (`attic/sources/jsonl.py`): EXPLICIT schema,
``FAILFAST`` parse mode, no inference, binary columns rejected, UTC
microsecond-exact timestamps. CSV-specific posture:

* **Quoting is always on** (QUOTE_ALL on write): a text column containing the
  delimiter, quotes, or leading zeros must survive byte-exactly; relying on
  minimal quoting makes the file's parseability depend on the DATA.
* **Embedded newlines are the scale trap.** A CSV row spanning lines forces
  ``multiLine=true`` on read, and a multiLine CSV file is NOT splittable —
  one task per file, no matter how big. Write-side this source REJECTS
  columns containing newlines loudly instead of silently producing a file
  that reads back single-threaded; the fixture corpus (single-line word
  soup) never trips it, and real pipelines should land such data as JSONL
  (splittable regardless of embedded newlines).
* **Null vs empty string is explicit.** CSV has no native null; the writer
  emits ``nullValue=\\N`` (the classic dump convention) so empty strings and
  nulls round-trip distinguishably. Because the read side maps the sentinel
  back to NULL *before* quote semantics apply, a genuine string value equal
  to ``\\N`` would silently round-trip to NULL even under quoteAll — so the
  writer REJECTS it loudly, exactly like embedded newlines. Data that needs
  to carry the literal two-character sequence backslash-N must land as JSONL.
* **Validation happens inside the write pass.** Both rejection predicates are
  compiled into the written projection via ``raise_error``, so the rows that
  are CHECKED are byte-for-byte the rows being WRITTEN (no separate guard job,
  no double computation, and no gap for a non-deterministic upstream frame to
  slip a bad row between check and write). Because the guard fires MID-write,
  output stages into a sibling temp directory and moves into place only on
  success — a rejected frame never destroys a pre-existing good export.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_observer_es_spark.session import apply_runtime_conf
from attic.sources.jsonl import _TS_FORMAT, _reject_binary

_NULL = r"\N"


# Marker prefix for the in-write raise_error guard; write_csv greps the JVM
# exception chain for it to re-raise a plain ValueError at the Python boundary.
_GUARD_MARK = "CSV-SINK-REJECT:"


def write_csv(df: DataFrame, path: str) -> None:
    """Write a frame as quoted, headered CSV. Binary columns, embedded
    newlines, and literal ``\\N`` string values are rejected (module
    docstring). Validation is fused into the write projection — one pass,
    checked rows == written rows.

    ``path`` must be on a LOCAL filesystem: the staged-then-``os.replace``
    commit (which keeps a rejected frame from destroying a pre-existing good
    export) is an OS-level rename, so unlike ``read_csv`` — or the Avro/ORC
    sources, whose paths may be on any Hadoop-compatible filesystem — this
    sink does not accept ``hdfs://``/``s3a://`` URIs. A pre-existing regular
    FILE at ``path`` is rejected loudly rather than half-replaced."""
    _reject_binary(df.schema)
    if os.path.exists(path) and not os.path.isdir(path):
        raise ValueError(
            f"CSV sink: {path!r} exists and is not a directory — refusing to "
            "replace a non-directory target"
        )
    projected = []
    for f in df.schema.fields:
        if not isinstance(f.dataType, T.StringType):
            projected.append(F.col(f.name))
            continue
        c = F.col(f.name)
        bad = c.contains("\n") | c.contains("\r") | (c == _NULL)
        msg = (
            f"{_GUARD_MARK} string column '{f.name}' contains an embedded "
            "newline (would force a non-splittable multiLine read) or the "
            r"literal \N null sentinel (would silently round-trip to NULL); "
            "land this data as JSONL instead (attic/sources/jsonl.py)"
        )
        projected.append(
            F.when(bad, F.raise_error(F.lit(msg))).otherwise(c).alias(f.name)
        )
    # Stage into a sibling temp dir and move into place only on success: the
    # fused guard fires MID-write, and an overwrite straight onto ``path``
    # would have already deleted a pre-existing good export before the
    # rejection lands — a rejected frame must leave prior output intact.
    staging = path.rstrip("/") + "._staging_"
    try:
        _write_csv_raw(df.select(projected))(staging)
    except Exception as e:  # unwrap the JVM-side guard into a plain ValueError
        shutil.rmtree(staging, ignore_errors=True)
        if _GUARD_MARK in str(e):
            raise ValueError(
                "CSV sink: a string column contains an embedded newline or "
                r"the literal \N null sentinel — " + str(e).split(_GUARD_MARK, 1)[1].split("\n")[0]
            ) from None
        raise
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.replace(staging, path)


def _write_csv_raw(df: DataFrame):
    return (
        df.write.mode("overwrite")
        .option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .option("nullValue", _NULL)
        .option("timestampFormat", _TS_FORMAT)
        # Spark's CSV WRITER trims leading/trailing whitespace by default
        # (ignore*WhiteSpace default true on write, false on read) — a
        # whitespace-only value would silently round-trip to "" even under
        # quoteAll. Byte-exact survival is the module contract; found by the
        # adversarial round-trip property test.
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv
    )


def read_csv(spark: SparkSession, path: str, schema: T.StructType) -> DataFrame:
    """Read headered CSV under an EXPLICIT schema, FAILFAST on malformed
    rows — the same loud ingest boundary as read_jsonl."""
    _reject_binary(schema)
    apply_runtime_conf(spark)
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("mode", "FAILFAST")
        .option("escape", '"')
        .option("nullValue", _NULL)
        .option("timestampFormat", _TS_FORMAT)
        # explicit (matches the read-side defaults): never trim data
        .option("ignoreLeadingWhiteSpace", "false")
        .option("ignoreTrailingWhiteSpace", "false")
        .csv(path)
    )
