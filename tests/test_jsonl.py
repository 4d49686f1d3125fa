"""JSONL source/sink: explicit-schema round-trips vs the parquet path.

The round-trip contract — write a fixture table as JSONL, read it back under
the parquet footer's schema, get value-identical rows — is what makes the
ingest format safe: any type widening, timestamp TZ shift, or silent null
would break the exact comparison here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_observer_es_spark.io import table
from attic.sources.jsonl import (
    jsonl_to_parquet,
    parquet_schema,
    read_jsonl,
    write_jsonl,
)

from .conftest import SF_ORACLE


def _sorted_rows(df, key):
    return [tuple(r) for r in df.orderBy(key).collect()]


@pytest.mark.parametrize("name,key", [
    ("orders", "o_orderkey"),       # timestamps + strings + doubles
    ("documents", "doc_id"),        # text payloads (quoting/escaping)
    ("events", "event_id"),         # the nanos->micros normalized ts column
])
def test_roundtrip_value_identical(spark, tmp_path, name, key):
    src = table(spark, SF_ORACLE, name)
    path = str(tmp_path / f"{name}.jsonl")
    write_jsonl(src, path)
    back = read_jsonl(spark, path, parquet_schema(spark, SF_ORACLE, name))
    assert back.schema == src.schema
    assert _sorted_rows(back, key) == _sorted_rows(src, key)


def test_landing_conversion_matches_query_results(spark, tmp_path):
    """land JSONL -> parquet once -> a real aggregation over the converted
    table must equal the same aggregation over the original fixture."""
    src = table(spark, SF_ORACLE, "orders")
    jl = str(tmp_path / "orders.jsonl")
    pq = str(tmp_path / "orders_parquet")
    write_jsonl(src, jl)
    jsonl_to_parquet(spark, jl, parquet_schema(spark, SF_ORACLE, "orders"), pq)
    agg = lambda df: _sorted_rows(  # noqa: E731
        df.groupBy("o_orderstatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("total"),
        ),
        "o_orderstatus",
    )
    assert agg(spark.read.parquet(pq)) == agg(src)


def test_malformed_line_fails_loudly(spark, tmp_path):
    p = tmp_path / "bad.jsonl"
    p.write_text('{"a": 1}\n{"a": "not-an-int}\n')
    schema = T.StructType([T.StructField("a", T.LongType())])
    df = read_jsonl(spark, str(p), schema)
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


def test_binary_columns_rejected(spark):
    schema = T.StructType([T.StructField("payload", T.BinaryType())])
    with pytest.raises(TypeError, match="binary"):
        read_jsonl(spark, "/nonexistent", schema)
    df = spark.range(1).select(F.lit(b"\x00").alias("payload"))
    with pytest.raises(TypeError, match="binary"):
        write_jsonl(df, "/tmp/never-written")


# -- CSV twin (attic/sources/csvsrc.py): same ingest contract -----------------------

from attic.sources.csvsrc import read_csv, write_csv  # noqa: E402


@pytest.mark.parametrize("name,key", [
    ("orders", "o_orderkey"),
    ("documents", "doc_id"),
    ("events", "event_id"),
])
def test_csv_roundtrip_value_identical(spark, tmp_path, name, key):
    src = table(spark, SF_ORACLE, name)
    path = str(tmp_path / f"{name}.csv")
    write_csv(src, path)
    back = read_csv(spark, path, parquet_schema(spark, SF_ORACLE, name))
    assert back.schema == src.schema
    assert _sorted_rows(back, key) == _sorted_rows(src, key)


def test_csv_null_vs_empty_string_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, 'quote " comma, text')],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path / "nulls.csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    rows = {r.id: r.s for r in back.collect()}
    assert rows == {1: None, 2: "", 3: 'quote " comma, text'}


def test_csv_refuses_regular_file_target(spark, tmp_path):
    """A pre-existing regular FILE at the target path is rejected loudly —
    os.replace onto a file would otherwise fail midway through the commit
    (round-9 advisor)."""
    df = spark.createDataFrame(
        [(1, "a")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    target = tmp_path / "not_a_dir.csv"
    target.write_text("pre-existing file")
    with pytest.raises(ValueError, match="not a directory"):
        write_csv(df, str(target))
    assert target.read_text() == "pre-existing file"  # untouched


def test_csv_rejects_embedded_newlines(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "line one\nline two")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    with pytest.raises(ValueError, match="newline"):
        write_csv(df, str(tmp_path / "never.csv"))


def test_csv_rejects_literal_null_sentinel(spark, tmp_path):
    # A genuine string value equal to the \N null sentinel would silently
    # round-trip to NULL (even under quoteAll — read-side nullValue mapping
    # happens after unquoting); the writer must reject it as loudly as an
    # embedded newline rather than corrupt the null/string distinction.
    df = spark.createDataFrame(
        [(1, r"\N")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    with pytest.raises(ValueError, match="sentinel"):
        write_csv(df, str(tmp_path / "never.csv"))


def test_csv_guard_is_single_pass(spark, tmp_path):
    # The rejection predicates are fused into the written projection
    # (raise_error inside the write job) — there must be no separate guard
    # job scanning the frame before the write, so a non-deterministic
    # upstream can never pass the check with one set of rows and write
    # another. Proven structurally: exactly one job runs per write_csv call.
    from pyspark import SparkContext

    df = spark.createDataFrame(
        [(1, "ok"), (2, "also ok")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    sc = SparkContext._active_spark_context
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None) or [])
    # isolate the count via a fresh job group
    sc.setJobGroup("csv-guard-pass-count", "single-pass proof")
    try:
        write_csv(df, str(tmp_path / "one_pass.csv"))
        jobs = set(tracker.getJobIdsForGroup("csv-guard-pass-count") or [])
    finally:
        sc.setJobGroup(None, None)
    assert len(jobs - before) == 1, f"expected 1 write job, saw {len(jobs - before)}"


def test_csv_malformed_row_fails_loudly(spark, tmp_path):
    p = tmp_path / "bad_dir"
    p.mkdir()
    (p / "part.csv").write_text('"a","b"\n"1","x"\n"not-an-int","y"\n')
    schema = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    df = read_csv(spark, str(p), schema)
    with pytest.raises(Exception, match="(?i)malformed|failfast"):
        df.collect()


# -- adversarial round-trip properties (round 9) ------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

# printable-ish strings heavy on CSV/JSON metacharacters; no newlines (those
# are rejected by contract, covered separately) and not the exact \N sentinel
_nasty = st.text(
    alphabet=st.sampled_from(list('abz ,"\'\\:{}[]|;\t日本💥0') + ["\u00e9"]),
    max_size=12,
).filter(lambda s: "\n" not in s and "\r" not in s and s != r"\N")


@given(vals=st.lists(_nasty, min_size=1, max_size=8, unique=True))
@settings(max_examples=12, deadline=None)
def test_csv_adversarial_strings_roundtrip(spark, tmp_path_factory, vals):
    """Quotes, delimiters, escapes, tabs, unicode, emoji, and
    sentinel-adjacent strings (e.g. '\\NN') survive the CSV round-trip
    byte-exactly under the quoteAll contract."""
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path_factory.mktemp("csvfuzz") / "t.csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)


@given(vals=st.lists(_nasty, min_size=1, max_size=8, unique=True))
@settings(max_examples=12, deadline=None)
def test_jsonl_adversarial_strings_roundtrip(spark, tmp_path_factory, vals):
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path_factory.mktemp("jsonfuzz") / "t.jsonl")
    write_jsonl(df, path)
    back = read_jsonl(spark, path, df.schema)
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)


def test_csv_sentinel_adjacent_values_are_not_rejected(spark, tmp_path):
    """Only the EXACT sentinel is ambiguous; near misses must flow through."""
    rows = [(1, r"\NN"), (2, r" \N"), (3, r"\n"), (4, r"\\N")]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path / "near.csv")
    write_csv(df, path)
    back = read_csv(spark, path, df.schema)
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)


def test_csv_rejection_preserves_existing_output(spark, tmp_path):
    """A rejected frame must leave a pre-existing good export intact: the
    fused guard fires mid-write, so output stages into a temp dir and only
    replaces the target on success."""
    good = spark.createDataFrame(
        [(1, "ok")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path / "out.csv")
    write_csv(good, path)
    bad = spark.createDataFrame(
        [(2, "has\nnewline")],
        good.schema,
    )
    with pytest.raises(ValueError):
        write_csv(bad, path)
    # the original export still reads back complete
    back = read_csv(spark, path, good.schema)
    assert [(r.id, r.s) for r in back.collect()] == [(1, "ok")]
    import os
    assert not os.path.exists(path + "._staging_")  # staging cleaned up
