"""WARC member index (attic/sources/warc_cdx.py): member-boundary walk, CDX rows,
range-request point reads, degraded layouts, WET composition."""

from __future__ import annotations

import base64
import gzip
import hashlib
import os

import pytest

from attic.sinks.wet import write_wet
from attic.sources.warc_cdx import (
    fetch_member,
    index_warc_bytes,
    warc_cdx,
    warc_cdx_to_parquet,
)

from .warc_fixtures import warc_record as _record


def _member(rec: bytes) -> bytes:
    import io

    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", filename="", mtime=0) as gz:
        gz.write(rec)
    return buf.getvalue()


def _three_member_shard() -> bytes:
    return (
        _member(_record("warcinfo", b"software: test\r\n", rid="id:0"))
        + _member(
            _record("response", b"payload-one", uri="http://x.example/1", rid="id:1")
        )
        + _member(
            _record("response", b"payload-two", uri="http://x.example/2", rid="id:2")
        )
    )


def test_index_member_per_record_shard():
    shard = _three_member_shard()
    rows = index_warc_bytes(shard, "s.warc.gz")
    assert len(rows) == 3
    assert [r["n_records"] for r in rows] == [1, 1, 1]
    assert [r["warc_type"] for r in rows] == ["warcinfo", "response", "response"]
    assert rows[1]["target_uri"] == "http://x.example/1"
    # offsets partition the file exactly: contiguous, covering every byte
    assert rows[0]["offset"] == 0
    for a, b in zip(rows, rows[1:]):
        assert b["offset"] == a["offset"] + a["length"]
    assert rows[-1]["offset"] + rows[-1]["length"] == len(shard)
    # CDX digest convention: base32 sha1 of the record payload
    want = "sha1:" + base64.b32encode(hashlib.sha1(b"payload-one").digest()).decode()
    assert rows[1]["payload_digest"] == want


def test_fetch_member_is_a_true_range_read(tmp_path):
    shard = _three_member_shard()
    p = tmp_path / "s.warc.gz"
    p.write_bytes(shard)
    rows = index_warc_bytes(shard, str(p))
    mid = rows[1]
    recs = fetch_member(str(p), mid["offset"], mid["length"])
    assert len(recs) == 1
    assert recs[0]["payload"] == b"payload-one"
    # a short/truncated range fails loudly, never returns partial records
    with pytest.raises(ValueError, match="short read"):
        fetch_member(str(p), rows[-1]["offset"], rows[-1]["length"] + 99)


def test_whole_stream_gzip_degrades_honestly():
    records = _record("warcinfo", b"a: b\r\n", rid="id:0") + _record(
        "response", b"x", uri="http://x.example/", rid="id:1"
    )
    rows = index_warc_bytes(gzip.compress(records), "whole.warc.gz")
    assert len(rows) == 1
    assert rows[0]["n_records"] == 2
    # record fields are NULL: this layout has no record-level range access
    assert rows[0]["record_id"] is None
    assert rows[0]["payload_digest"] is None


def test_plain_warc_indexes_uncompressed():
    records = _record("response", b"x", uri="http://x.example/", rid="id:1")
    rows = index_warc_bytes(records, "plain.warc")
    assert rows == [
        {
            "path": "plain.warc",
            "offset": 0,
            "length": len(records),
            "compressed": False,
            "n_records": 1,
            "record_id": "id:1",
            "warc_type": "response",
            "target_uri": "http://x.example/",
            "warc_date": "2024-01-01T00:00:00Z",
            "payload_digest": "sha1:"
            + base64.b32encode(hashlib.sha1(b"x").digest()).decode(),
        }
    ]


def test_fetch_member_decodes_spark_uri_paths(spark, tmp_path):
    """binaryFile's path column round-trips into fetch_member even for
    directories with spaces — pinning that Spark emits the RAW (unescaped)
    path, which is why fetch_member must NOT percent-decode (a literal '%'
    directory would corrupt)."""
    d = tmp_path / "my corpus"
    d.mkdir()
    shard = _three_member_shard()
    (d / "s.warc.gz").write_bytes(shard)
    row = (
        warc_cdx(spark, str(d))
        .filter("target_uri = 'http://x.example/2'")
        .collect()[0]
    )
    assert "my corpus" in row["path"]  # raw space: the form Spark emits
    recs = fetch_member(row["path"], row["offset"], row["length"])
    assert recs[0]["payload"] == b"payload-two"


def test_corrupt_member_fails_loud():
    shard = bytearray(_three_member_shard())
    shard[len(shard) // 2] ^= 0xFF  # flip a byte inside a member
    with pytest.raises(ValueError, match="WARC-CDX|WARC "):
        index_warc_bytes(bytes(shard), "bad.warc.gz")


def test_truncated_member_fails_loud():
    shard = _three_member_shard()
    with pytest.raises(ValueError, match="corrupt gzip member"):
        index_warc_bytes(shard[: len(shard) - 7], "trunc.warc.gz")


def test_warc_cdx_spark_and_wet_composition(spark, tmp_path):
    """The published WET corpus is range-addressable: index the shards with
    Spark, land the index as parquet, look an URI up, fetch ONE member."""
    docs = spark.createDataFrame(
        [
            ("http://a.example/1", "alpha"),
            ("http://a.example/2", "beta"),
            ("http://b.example/", "gamma"),
        ],
        "source string, text string",
    )
    out = str(tmp_path / "wet")
    write_wet(docs, out, n_shards=2)

    idx_path = str(tmp_path / "cdx.parquet")
    warc_cdx_to_parquet(spark, out, idx_path, glob="*.warc.gz")
    idx = spark.read.parquet(idx_path)
    # every member holds exactly one record: the full-CDX operating point
    assert idx.filter("n_records != 1").count() == 0
    assert idx.filter("warc_type = 'conversion'").count() == 3

    row = idx.filter("target_uri = 'http://a.example/2'").collect()[0]
    recs = fetch_member(row["path"], row["offset"], row["length"], row["compressed"])
    assert len(recs) == 1
    assert recs[0]["payload"] == b"beta"
    assert recs[0]["record_id"] == row["record_id"]
