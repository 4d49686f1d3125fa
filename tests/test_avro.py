"""Avro container source (attic/sources/avrosrc.py): spec-golden decode, Spark
round-trips, codec handling, fail-loud structure checks.

The golden tests build container files BYTE BY BYTE from the public Avro
spec (zigzag varints, union tags by declared position, block/sync layout) so
the decoder is pinned to the specification itself, not to our own encoder —
the reader and writer cannot share a mirrored bug."""

from __future__ import annotations

import json
import struct

import pytest

from hbase_observer_es_spark.io import table
from attic.sources.avrosrc import (
    MAGIC,
    avro_to_parquet,
    parse_avro_bytes,
    read_avro,
    schema_from_avro,
    write_avro,
)

from .conftest import SF_SMOKE


def _zz(n: int) -> bytes:  # independent zigzag varint, written from the spec
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        out.append(b | 0x80 if u else b)
        if not u:
            return bytes(out)


def _bstr(s: bytes) -> bytes:
    return _zz(len(s)) + s


_SYNC = bytes(range(16))


def _golden(schema: dict, payload: bytes, n_records: int, codec: bytes = b"null") -> bytes:
    out = bytearray()
    out += MAGIC
    out += _zz(2)  # metadata map: 2 entries
    out += _bstr(b"avro.codec") + _bstr(codec)
    out += _bstr(b"avro.schema") + _bstr(json.dumps(schema).encode())
    out += _zz(0)  # map terminator
    out += _SYNC
    out += _zz(n_records) + _zz(len(payload)) + payload + _SYNC
    return bytes(out)


_SCHEMA = {
    "type": "record",
    "name": "row",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "name", "type": ["null", "string"]},
        {"name": "flag", "type": "boolean"},
    ],
}

# two records, hand-encoded:
#   (id=1, name="ab" [union branch 1], flag=True)
#   (id=-2, name=None [union branch 0], flag=False)
_PAYLOAD = bytes([0x02, 0x02, 0x04]) + b"ab" + bytes([0x01, 0x03, 0x00, 0x00])


def test_golden_decode_matches_spec_bytes():
    schema, rows = parse_avro_bytes(_golden(_SCHEMA, _PAYLOAD, 2), "g.avro")
    assert schema == _SCHEMA
    assert list(rows) == [
        {"id": 1, "name": "ab", "flag": True},
        {"id": -2, "name": None, "flag": False},
    ]


def test_golden_reversed_union_order():
    """The union tag is the POSITION in the declared branch list — a
    [T, "null"] schema puts null at index 1."""
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "name", "type": ["string", "null"]}],
    }
    # rec1: branch 0 (string) "x"; rec2: branch 1 (null)
    payload = bytes([0x00, 0x02]) + b"x" + bytes([0x02])
    _, rows = parse_avro_bytes(_golden(schema, payload, 2), "g.avro")
    assert list(rows) == [{"name": "x"}, {"name": None}]


def test_golden_deflate_block():
    import zlib

    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    compressed = co.compress(_PAYLOAD) + co.flush()
    _, rows = parse_avro_bytes(
        _golden(_SCHEMA, compressed, 2, codec=b"deflate"), "g.avro"
    )
    assert [r["id"] for r in rows] == [1, -2]


@pytest.mark.parametrize(
    "mutilate,msg",
    [
        (lambda b: b"XXX" + b[3:], "bad magic"),
        (lambda b: b[:-8], "truncated block|sync marker"),
        (lambda b: b[:-16] + bytes(16), "sync marker mismatch"),
    ],
)
def test_structural_violations_fail_loudly(mutilate, msg):
    data = mutilate(_golden(_SCHEMA, _PAYLOAD, 2))
    with pytest.raises(ValueError, match=msg):
        schema, rows = parse_avro_bytes(data, "t.avro")
        list(rows)


def test_unsupported_shapes_fail_loudly():
    with pytest.raises(ValueError, match="zstandard"):
        parse_avro_bytes(_golden(_SCHEMA, _PAYLOAD, 2, codec=b"zstandard"), "t")
    arr_schema = {
        "type": "record", "name": "r",
        "fields": [{"name": "xs", "type": {"type": "array", "items": "long"}}],
    }
    with pytest.raises(ValueError, match="tabular subset|unsupported"):
        schema, rows = parse_avro_bytes(_golden(arr_schema, b"", 0), "t")
        list(rows)
    multi = {
        "type": "record", "name": "r",
        "fields": [{"name": "u", "type": ["null", "string", "long"]}],
    }
    with pytest.raises(ValueError, match="2-branch"):
        schema_from_avro(multi)


@pytest.mark.parametrize("name,key", [("events", "event_id"), ("documents", "doc_id")])
def test_spark_roundtrip_value_identical(spark, tmp_path, name, key):
    """write_avro -> read_avro over the fixture tables is value-identical,
    including micro-exact timestamps (events.ts via timestamp-micros)."""
    src = table(spark, SF_SMOKE, name)
    path = str(tmp_path / f"{name}.avro")
    write_avro(src, path)
    back = read_avro(spark, str(tmp_path), glob=f"{name}.avro")
    assert [f.name for f in back.schema.fields] == src.columns
    a = sorted(tuple(r) for r in back.collect())
    b = sorted(tuple(r) for r in src.collect())
    assert a == b


def test_null_codec_roundtrip(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents").limit(5)
    path = str(tmp_path / "d.avro")
    write_avro(src, path, codec="null")
    back = read_avro(spark, str(tmp_path), glob="d.avro")
    assert back.count() == 5


def test_schema_drift_across_files_fails(spark, tmp_path):
    d = table(spark, SF_SMOKE, "documents").limit(2)
    write_avro(d.select("doc_id", "lang"), str(tmp_path / "a.avro"))
    write_avro(d.select("doc_id", "source"), str(tmp_path / "b.avro"))
    with pytest.raises(Exception, match="drift"):
        read_avro(spark, str(tmp_path)).collect()


def test_writer_refuses_unbounded_frames(spark, tmp_path, monkeypatch):
    import attic.sources.avrosrc as av

    monkeypatch.setattr(av, "WRITE_CAP_ROWS", 3)
    src = table(spark, SF_SMOKE, "documents")  # more than 3 rows
    with pytest.raises(ValueError, match="cap"):
        av.write_avro(src, str(tmp_path / "never.avro"))


def test_avro_to_parquet_landing(spark, tmp_path):
    src = table(spark, SF_SMOKE, "documents")
    write_avro(src, str(tmp_path / "d.avro"))
    pq = str(tmp_path / "_landed")
    avro_to_parquet(spark, str(tmp_path), pq)
    back = spark.read.parquet(pq)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in src.collect()
    )


# -- properties: varint codec and adversarial values --------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from attic.sources.avrosrc import _zigzag_decode, _zigzag_encode

_i64 = st.integers(min_value=-(1 << 63), max_value=(1 << 63) - 1)


@given(n=_i64)
@settings(max_examples=500, deadline=None)
def test_zigzag_roundtrip_full_int64(n):
    buf = _zigzag_encode(n)
    got, pos = _zigzag_decode(buf, 0)
    assert got == n and pos == len(buf)


@given(ns=st.lists(_i64, min_size=1, max_size=20))
@settings(max_examples=100, deadline=None)
def test_zigzag_stream_decodes_in_sequence(ns):
    buf = b"".join(_zigzag_encode(n) for n in ns)
    pos, out = 0, []
    while pos < len(buf):
        v, pos = _zigzag_decode(buf, pos)
        out.append(v)
    assert out == ns


_nasty = st.one_of(
    st.text(
        alphabet=st.sampled_from(list('abz ,"\'\\:{}[]|;\t\n\r日本💥0N\u00e9')),
        max_size=12,
    ),
    st.just(r"\N"),
    st.none(),
)


# -- snappy codec: spec-golden elements, framing, round-trips ------------------

import zlib as _zlib

from attic.sources.avrosrc import (
    snappy_compress_literal,
    snappy_uncompress,
)


def test_snappy_golden_all_element_types():
    """Hand-encoded from the public format description: literal, 1-byte-
    offset copy, OVERLAPPING 2-byte-offset copy (byte-repeat semantics),
    4-byte-offset copy, and an extended-length literal — the decoder is
    pinned to the spec bytes, not to our own encoder."""
    expect = b"snappy-" * 4 + b"snap" + b"x" * 61
    stream = bytearray()
    stream += bytes([len(expect)])  # preamble varint (93 < 128: one byte)
    stream += bytes([(7 - 1) << 2]) + b"snappy-"  # literal len 7
    # copy, 1-byte offset: length 7 (tag bits 2-4 = 3), offset 7
    stream += bytes([(3 << 2) | 0x01, 0x07])  # -> "snappy-snappy-"
    # copy, 2-byte offset: length 14, offset 7 — OVERLAPS (7 < 14): the
    # spec's byte-at-a-time rule makes it repeat "snappy-" twice
    stream += bytes([((14 - 1) << 2) | 0x02, 0x07, 0x00])  # -> x4
    # copy, 4-byte offset: length 4, offset 28 (the whole output so far)
    stream += bytes([((4 - 1) << 2) | 0x03, 0x1C, 0x00, 0x00, 0x00])  # "snap"
    # extended literal: len 61 => tag value 60 (length-1 in 1 byte)
    stream += bytes([60 << 2, 60]) + b"x" * 61
    assert snappy_uncompress(bytes(stream), "golden") == expect


@pytest.mark.parametrize(
    "stream,msg",
    [
        (b"", "varint"),
        (b"\x05" + bytes([(9 - 1) << 2]) + b"abc", "truncated literal"),
        (b"\x04" + bytes([(3 << 2) | 0x01]), "truncated 1-byte-offset copy"),
        # copy before any output: offset outside produced bytes
        (b"\x04" + bytes([(3 << 2) | 0x01, 0x01]), "outside"),
        # literal shorter than the preamble claims
        (b"\x09" + bytes([(3 - 1) << 2]) + b"abc", "declared 9 bytes"),
    ],
)
def test_snappy_structural_violations_fail_loudly(stream, msg):
    with pytest.raises(ValueError, match=msg):
        snappy_uncompress(stream, "t")


def test_snappy_literal_encoder_chunks_large_inputs():
    """> 65536 bytes exercises the multi-element literal chunking."""
    data = bytes(range(256)) * 300  # 76 800 bytes, deterministic
    assert snappy_uncompress(snappy_compress_literal(data), "t") == data


def test_golden_avro_snappy_block():
    """An Avro container whose block is snappy bytes + big-endian CRC32 of
    the uncompressed data decodes; a flipped CRC dies loudly."""
    crc = _zlib.crc32(_PAYLOAD) & 0xFFFFFFFF
    framed = snappy_compress_literal(_PAYLOAD) + crc.to_bytes(4, "big")
    _, rows = parse_avro_bytes(
        _golden(_SCHEMA, framed, 2, codec=b"snappy"), "g.avro"
    )
    assert [r["id"] for r in rows] == [1, -2]
    bad = framed[:-1] + bytes([framed[-1] ^ 0xFF])
    with pytest.raises(ValueError, match="CRC mismatch"):
        _, rows = parse_avro_bytes(
            _golden(_SCHEMA, bad, 2, codec=b"snappy"), "g.avro"
        )
        list(rows)


def test_spark_roundtrip_snappy_codec(spark, tmp_path):
    """write_avro(codec=snappy) -> read_avro is value-identical, including
    micro-exact timestamps."""
    src = table(spark, SF_SMOKE, "events")
    path = str(tmp_path / "events.avro")
    write_avro(src, path, codec="snappy")
    back = read_avro(spark, str(tmp_path), glob="events.avro")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in src.collect()
    )


@given(data=st.binary(min_size=0, max_size=300))
@settings(max_examples=300, deadline=None)
def test_snappy_literal_roundtrip_property(data):
    assert snappy_uncompress(snappy_compress_literal(data), "prop") == data


@given(data=st.binary(min_size=0, max_size=200))
@settings(max_examples=500, deadline=None)
def test_snappy_decoder_total_on_adversarial_bytes(data):
    """Arbitrary bytes either decode or raise a clean ValueError with origin
    context — never IndexError, never a hang, never a silent wrong-length
    result (the preamble check makes length lies loud)."""
    try:
        out = snappy_uncompress(data, "fuzz")
    except ValueError as e:
        assert "fuzz" in str(e) or "varint" in str(e)
    else:
        expected, _ = _plain_varint(data)
        assert len(out) == expected


def _plain_varint(buf):
    shift = acc = pos = 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7


# -- round-10 advisor repros: exact types through the Arrow boundary ----------


def test_nullable_long_beyond_2p53_exact(spark, tmp_path):
    """A nullable long column containing None must NOT widen to float64 in
    the decode batch: int64 values beyond 2^53 have no exact float64
    representation (4611686018427387905 would silently read back ...904)."""
    from pyspark.sql import types as T

    big = 4611686018427387905  # 2^62 + 1 — not representable in float64
    df = spark.createDataFrame(
        [(0, None), (1, big), (2, -big)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
        ]),
    )
    write_avro(df, str(tmp_path / "t.avro"))
    back = read_avro(spark, str(tmp_path), glob="t.avro")
    got = {r.id: r.v for r in back.collect()}
    assert got == {0: None, 1: big, 2: -big}


def test_float_nan_distinct_from_null(spark, tmp_path):
    """Genuine NaN survives as NaN; NULL survives as NULL — the decode must
    not conflate them (pandas float inference maps both to the same hole)."""
    import math

    from pyspark.sql import types as T

    df = spark.createDataFrame(
        [(0, 1.5), (1, float("nan")), (2, None)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("x", T.DoubleType()),
        ]),
    )
    write_avro(df, str(tmp_path / "t.avro"))
    got = {r.id: r.x for r in read_avro(spark, str(tmp_path), glob="t.avro").collect()}
    assert got[0] == 1.5
    assert got[1] is not None and math.isnan(got[1])
    assert got[2] is None


def test_corrupt_boolean_byte_fails_loudly():
    """A boolean byte outside 0x00/0x01 is corruption, not truthiness; a
    boolean cut off by the payload edge names the block, not IndexError."""
    schema = {
        "type": "record",
        "name": "row",
        "fields": [{"name": "flag", "type": "boolean"}],
    }
    with pytest.raises(ValueError, match=r"invalid boolean byte 0x07.*block 0"):
        _, rows = parse_avro_bytes(_golden(schema, bytes([0x07]), 1), "t.avro")
        list(rows)
    with pytest.raises(ValueError, match=r"truncated boolean.*block 0"):
        _, rows = parse_avro_bytes(_golden(schema, b"", 1), "t.avro")
        list(rows)


def test_writer_timestamps_immune_to_driver_timezone(spark, tmp_path):
    """write_avro emits epoch micros computed IN SPARK — a non-UTC driver OS
    timezone (which governs collect()'s datetime conversion) must not shift
    the written value."""
    import os
    import time

    from pyspark.sql import functions as F

    micros = 1700000000123456
    df = spark.range(1).select(F.timestamp_micros(F.lit(micros)).alias("ts"))
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        write_avro(df, str(tmp_path / "t.avro"))
    finally:
        if old_tz is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    _, rows = parse_avro_bytes(
        (tmp_path / "t.avro").read_bytes(), "t.avro"
    )
    assert [r["ts"] for r in rows] == [micros]


@given(vals=st.lists(_nasty, min_size=1, max_size=6))
@settings(max_examples=8, deadline=None)
def test_avro_adversarial_strings_roundtrip(spark, tmp_path_factory, vals):
    """Newlines, emoji, the CSV sentinel, and NULLs all survive the Avro
    round-trip — binary framing carries everything byte-exactly."""
    from pyspark.sql import types as T

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows,
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("s", T.StringType()),
        ]),
    )
    d = tmp_path_factory.mktemp("avrofuzz")
    write_avro(df, str(d / "t.avro"))
    back = read_avro(spark, str(d), glob="t.avro")
    assert sorted((r.id, r.s) for r in back.collect()) == sorted(rows)
