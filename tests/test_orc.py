"""ORC ingest twin (attic/sources/orcsrc.py): the columnar-boundary contract.

Same spirit as the JSONL/CSV suites — round-trips are value-identical against
the parquet fixtures, drift fails loudly — plus the two contrasts that define
the ORC boundary: binary columns are allowed (the text twins reject them) and
null vs empty string needs no sentinel."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from attic.sources.jsonl import parquet_schema
from attic.sources.orcsrc import orc_to_parquet, read_orc, write_orc
from hbase_observer_es_spark.io import table

from .conftest import SF_SMOKE

SF_ORACLE = "/root/testdata/sf0.01"


def _sorted_rows(df, key):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize(
    "name,key", [("events", "event_id"), ("documents", "doc_id")]
)
def test_orc_roundtrip_value_identical(spark, tmp_path, name, key):
    src = table(spark, SF_ORACLE, name)
    path = str(tmp_path / f"{name}.orc")
    write_orc(src, path)
    back = read_orc(spark, path, parquet_schema(spark, SF_ORACLE, name))
    assert back.schema == src.schema
    # events carries micro-precision timestamps — the roundtrip must be exact
    assert _sorted_rows(back, key) == _sorted_rows(src, key)


def test_orc_allows_binary_columns(spark, tmp_path):
    # the sanctioned ingest path for multimodal payloads — text twins reject
    # BinaryType, ORC carries it natively and losslessly
    df = spark.createDataFrame(
        [(1, bytearray(b"\x00\xffPNG\r\n")), (2, None)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("payload", T.BinaryType()),
        ]),
    )
    path = str(tmp_path / "bin.orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    rows = {r.id: (bytes(r.payload) if r.payload is not None else None)
            for r in back.collect()}
    assert rows == {1: b"\x00\xffPNG\r\n", 2: None}


def test_orc_null_vs_empty_string_native(spark, tmp_path):
    # no \N sentinel, no collision class: NULL and "" are structural
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, r"\N")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path / "nulls.orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    rows = {r.id: r.s for r in back.collect()}
    # the literal two-char backslash-N survives as a string — the exact value
    # the CSV twin must reject
    assert rows == {1: None, 2: "", 3: r"\N"}


def test_orc_schema_drift_fails_loudly(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a")],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path / "drift.orc")
    write_orc(df, path)
    renamed = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("text", T.StringType()),  # vendor renamed a column
    ])
    with pytest.raises(TypeError, match="drift"):
        read_orc(spark, path, renamed)
    widened = T.StructType([
        T.StructField("id", T.IntegerType()),  # narrower than the file's long
        T.StructField("s", T.StringType()),
    ])
    with pytest.raises(TypeError, match="drift"):
        read_orc(spark, path, widened)


def test_orc_to_parquet_landing(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents")
    orc_path = str(tmp_path / "land.orc")
    pq_path = str(tmp_path / "land.parquet")
    write_orc(src, orc_path)
    orc_to_parquet(spark, orc_path, src.schema, pq_path)
    back = spark.read.parquet(pq_path)
    assert back.schema == src.schema
    assert _sorted_rows(back, "doc_id") == _sorted_rows(src, "doc_id")


# -- adversarial round-trip property (round 9, same posture as CSV/JSONL) -----

from hypothesis import given, settings
from hypothesis import strategies as st

_nasty = st.one_of(
    st.text(
        alphabet=st.sampled_from(list('abz ,"\'\\:{}[]|;\t\n\r日本💥0N\u00e9')),
        max_size=12,
    ),
    st.just(r"\N"),  # the exact CSV null sentinel — ORC must carry it fine
)


@given(vals=st.lists(_nasty, min_size=1, max_size=8, unique=True))
@settings(max_examples=12, deadline=None)
def test_orc_adversarial_strings_roundtrip(spark, tmp_path_factory, vals):
    """ORC carries EVERYTHING byte-exactly — including the newlines and \\N
    sentinel values the text twins must reject. That asymmetry is the point
    of having a columnar ingest boundary."""
    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    path = str(tmp_path_factory.mktemp("orcfuzz") / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path, df.schema)
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)
