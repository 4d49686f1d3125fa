"""WET sink (attic/sinks/wet.py): conversion-record publication, byte-determinism,
member-per-record layout, manifest verification, documents round-trip."""

from __future__ import annotations

import gzip
import json
import os
import zlib

import pytest

from attic.sinks.wet import (
    DEFAULT_DATE,
    MANIFEST,
    read_wet,
    verify_wet,
    write_wet,
)
from hbase_observer_es_spark.sources.warc import parse_warc_bytes


def _docs(spark):
    return spark.createDataFrame(
        [
            ("http://a.example/1", "alpha text 日本", "2024-01-02T03:04:05Z", "<urn:uuid:ref-1>"),
            ("http://a.example/2", "beta", "2024-01-02T03:04:06Z", None),
            ("http://b.example/", "gamma\nsecond line", None, "<urn:uuid:ref-3>"),
        ],
        "source string, text string, warc_date string, refers_to string",
    )


def _gzip_members(raw: bytes) -> list[bytes]:
    """Split a multi-member gzip stream at true member boundaries."""
    members, pos = [], 0
    while pos < len(raw):
        d = zlib.decompressobj(wbits=31)
        members.append(d.decompress(raw[pos:]))
        consumed = len(raw) - pos - len(d.unused_data)
        assert consumed > 0
        pos += consumed
    return members


def test_write_wet_publishes_valid_warc(spark, tmp_path):
    out = str(tmp_path / "wet")
    manifest = write_wet(
        _docs(spark), out, n_shards=2,
        date_col="warc_date", refers_to_col="refers_to",
    )
    assert manifest["total_records"] == 3
    assert sorted(manifest["shards"]) == ["0", "1"]
    files = sorted(f for f in os.listdir(out) if f.endswith(".warc.gz"))
    assert files == [
        "part-00000-of-00002.warc.gz",
        "part-00001-of-00002.warc.gz",
    ]
    seen = {}
    for fname in files:
        with open(os.path.join(out, fname), "rb") as f:
            raw = f.read()
        recs = list(parse_warc_bytes(gzip.decompress(raw), fname))
        assert recs[0]["warc_type"] == "warcinfo"
        for r in recs[1:]:
            assert r["warc_type"] == "conversion"
            assert r["content_type"] == "text/plain"
            assert r["record_id"].startswith("<urn:uuid:")
            seen[r["target_uri"]] = r["payload"].decode("utf-8")
    assert seen == {
        "http://a.example/1": "alpha text 日本",
        "http://a.example/2": "beta",
        "http://b.example/": "gamma\nsecond line",
    }


def test_wet_date_and_refers_headers(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 1, date_col="warc_date", refers_to_col="refers_to")
    with open(os.path.join(out, "part-00000-of-00001.warc.gz"), "rb") as f:
        text = gzip.decompress(f.read()).decode("utf-8")
    assert "WARC-Date: 2024-01-02T03:04:05Z" in text
    assert "WARC-Refers-To: <urn:uuid:ref-1>" in text
    # NULL date falls back to the epoch sentinel, never the wall clock
    assert f"WARC-Date: {DEFAULT_DATE}" in text
    # the one record with refers_to=None must not emit the header at all
    assert text.count("WARC-Refers-To:") == 2


def test_wet_member_per_record(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 1, date_col="warc_date")
    with open(os.path.join(out, "part-00000-of-00001.warc.gz"), "rb") as f:
        raw = f.read()
    members = _gzip_members(raw)
    assert len(members) == 4  # warcinfo + 3 conversion records
    for m in members:
        assert m.startswith(b"WARC/1.0\r\n")


def test_wet_byte_deterministic_across_reruns(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    # second frame arrives in a different row order — output must not care
    write_wet(_docs(spark), a, 2, date_col="warc_date", refers_to_col="refers_to")
    shuffled = _docs(spark).orderBy("text")
    write_wet(shuffled, b, 2, date_col="warc_date", refers_to_col="refers_to")
    for fname in sorted(os.listdir(a)):
        with open(os.path.join(a, fname), "rb") as fa, open(
            os.path.join(b, fname), "rb"
        ) as fb:
            assert fa.read() == fb.read(), fname


def test_wet_empty_shard_still_published(spark, tmp_path):
    out = str(tmp_path / "wet")
    one = _docs(spark).limit(1)
    manifest = write_wet(one, out, 4, date_col="warc_date")
    assert len(manifest["shards"]) == 4
    empties = [s for s in manifest["shards"].values() if s["records"] == 0]
    assert len(empties) == 3
    for s in manifest["shards"].values():
        assert os.path.isfile(os.path.join(out, s["file"]))
    verify_wet(out)  # empty shards carry a warcinfo record and verify clean


def test_wet_null_text_fails_loud(spark, tmp_path):
    bad = spark.createDataFrame(
        [("http://x.example/", None)], "source string, text string"
    )
    with pytest.raises(Exception, match="WET sink: NULL"):
        write_wet(bad, str(tmp_path / "w"), 1)


def test_wet_missing_column_fails_loud(spark, tmp_path):
    with pytest.raises(ValueError, match="not in"):
        write_wet(_docs(spark), str(tmp_path / "w"), 1, date_col="no_such")


def test_read_wet_documents_shape_roundtrip(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 2, date_col="warc_date")
    back = read_wet(spark, out)
    assert back.columns == ["doc_id", "text", "lang", "source", "n_chars"]
    rows = {r["source"]: r for r in back.collect()}
    assert set(rows) == {
        "http://a.example/1", "http://a.example/2", "http://b.example/"
    }
    assert rows["http://b.example/"]["text"] == "gamma\nsecond line"
    assert rows["http://a.example/2"]["n_chars"] == 4
    assert all(r["lang"] is None for r in rows.values())
    # doc_id is deterministic: re-reading yields the same ids
    again = {r["source"]: r["doc_id"] for r in read_wet(spark, out).collect()}
    assert again == {k: v["doc_id"] for k, v in rows.items()}


def test_verify_wet_catches_tampering(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 2, date_col="warc_date")
    verify_wet(out)  # clean pass first
    # tamper: swap one shard's bytes for a valid-but-different shard
    with open(os.path.join(out, MANIFEST)) as f:
        manifest = json.load(f)
    victim = next(
        s["file"] for s in manifest["shards"].values() if s["records"] > 0
    )
    other_dir = str(tmp_path / "other")
    write_wet(
        spark.createDataFrame(
            [("http://evil.example/", "injected")], "source string, text string"
        ),
        other_dir, 1,
    )
    os.replace(
        os.path.join(other_dir, "part-00000-of-00001.warc.gz"),
        os.path.join(out, victim),
    )
    with pytest.raises(ValueError, match="WET verify failed"):
        verify_wet(out)


def test_reexport_overwrites_prior_shard_set(spark, tmp_path):
    """Shrinking n_shards must not leave ghost shards from the prior export
    for read_wet to silently re-ingest (review finding)."""
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 4, date_col="warc_date")
    write_wet(_docs(spark), out, 2, date_col="warc_date")
    files = sorted(f for f in os.listdir(out) if f.endswith(".warc.gz"))
    assert files == [
        "part-00000-of-00002.warc.gz",
        "part-00001-of-00002.warc.gz",
    ]
    assert read_wet(spark, out).count() == 3  # no duplicated documents
    verify_wet(out)
    # and no staging leftovers under any name
    assert not [f for f in os.listdir(out) if "staging" in f or "attempt" in f]


def test_rejected_export_preserves_prior_publication(spark, tmp_path):
    """The staged commit: a mid-write rejection (NULL text) must leave the
    previous good export fully intact and verifiable (the CSV sink's
    guarantee, held here too)."""
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 2, date_col="warc_date")
    before = {
        f: open(os.path.join(out, f), "rb").read()
        for f in os.listdir(out)
        if f.endswith(".warc.gz") or f == MANIFEST
    }
    bad = spark.createDataFrame(
        [("http://x.example/", "fine"), ("http://y.example/", None)],
        "source string, text string",
    )
    with pytest.raises(Exception, match="WET sink: NULL"):
        write_wet(bad, out, 2)
    after = {
        f: open(os.path.join(out, f), "rb").read()
        for f in os.listdir(out)
        if f.endswith(".warc.gz") or f == MANIFEST
    }
    assert after == before
    verify_wet(out)


def test_verify_wet_catches_unmanifested_shard(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 1, date_col="warc_date")
    extra_dir = str(tmp_path / "extra")
    write_wet(
        spark.createDataFrame(
            [("http://ghost.example/", "ghost")], "source string, text string"
        ),
        extra_dir, 1,
    )
    os.rename(
        os.path.join(extra_dir, "part-00000-of-00001.warc.gz"),
        os.path.join(out, "part-00009-of-00010.warc.gz"),
    )
    with pytest.raises(ValueError, match="not in manifest"):
        verify_wet(out)


def test_verify_wet_catches_header_tampering(spark, tmp_path):
    """Counts and the (uri, text) fingerprint survive a header rewrite; the
    byte layer (size/sha256) must not (review finding)."""
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 1, date_col="warc_date")
    fname = os.path.join(out, "part-00000-of-00001.warc.gz")
    with open(fname, "rb") as f:
        plain = gzip.decompress(f.read())
    tampered = plain.replace(b"2024-01-02T03:04:05Z", b"1999-09-09T09:09:09Z")
    assert tampered != plain
    with open(fname, "wb") as f:
        f.write(gzip.compress(tampered))
    with pytest.raises(ValueError, match="sha256|bytes"):
        verify_wet(out)


def test_wet_rejects_header_injection(spark, tmp_path):
    bad = spark.createDataFrame(
        [("http://x.example/\r\nWARC-Type: evil", "t")],
        "source string, text string",
    )
    with pytest.raises(Exception, match="CR/LF"):
        write_wet(bad, str(tmp_path / "w"), 1)
    # text is payload, not a header line: newlines there are legal
    ok = spark.createDataFrame(
        [("http://x.example/", "line one\r\nline two")],
        "source string, text string",
    )
    write_wet(ok, str(tmp_path / "ok"), 1)
    rows = read_wet(spark, str(tmp_path / "ok")).collect()
    assert rows[0]["text"] == "line one\r\nline two"


def test_same_uri_date_different_text_get_distinct_ids(spark, tmp_path):
    """Record ids are content-dependent: documents differing only in text
    must not conflate on re-ingest (review finding)."""
    out = str(tmp_path / "wet")
    dup = spark.createDataFrame(
        [("http://x.example/", "first body"), ("http://x.example/", "second body")],
        "source string, text string",
    )
    write_wet(dup, out, 1)
    back = read_wet(spark, out).collect()
    assert len(back) == 2
    assert len({r["doc_id"] for r in back}) == 2
    with open(os.path.join(out, "part-00000-of-00001.warc.gz"), "rb") as f:
        recs = list(parse_warc_bytes(gzip.decompress(f.read()), "s"))
    ids = [r["record_id"] for r in recs if r["warc_type"] == "conversion"]
    assert len(set(ids)) == 2


def test_wet_determinism_with_tie_rows(spark, tmp_path):
    """Rows that tie on (uri, date, text) but differ in refers_to still
    publish byte-identically across arrival orders (review finding)."""
    rows = [
        ("http://t.example/", "same", "2024-01-01T00:00:00Z", f"<urn:uuid:r{i}>")
        for i in range(6)
    ]
    schema = "source string, text string, warc_date string, refers_to string"
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_wet(
        spark.createDataFrame(rows, schema).repartition(4),
        a, 1, date_col="warc_date", refers_to_col="refers_to",
    )
    write_wet(
        spark.createDataFrame(rows[::-1], schema).repartition(3),
        b, 1, date_col="warc_date", refers_to_col="refers_to",
    )
    with open(os.path.join(a, "part-00000-of-00001.warc.gz"), "rb") as fa, open(
        os.path.join(b, "part-00000-of-00001.warc.gz"), "rb"
    ) as fb:
        assert fa.read() == fb.read()


def test_diff_wet_classifies_changes(spark, tmp_path):
    from attic.sinks.wet import diff_wet

    base = write_wet(_docs(spark), str(tmp_path / "a"), 2, date_col="warc_date")
    # identical re-export: nothing to refresh
    same = write_wet(_docs(spark), str(tmp_path / "b"), 2, date_col="warc_date")
    d = diff_wet(base, same)
    assert d["changed"] == [] and sorted(d["unchanged"]) == [0, 1]

    # content change: one document's text edited
    from pyspark.sql import functions as F

    edited = _docs(spark).withColumn(
        "text",
        F.when(F.col("source") == "http://b.example/", "rewritten").otherwise(
            F.col("text")
        ),
    )
    cont = write_wet(edited, str(tmp_path / "c"), 2, date_col="warc_date")
    d = diff_wet(base, cont)
    assert d["changed"] == d["content_changed"] != []
    assert d["metadata_changed"] == []

    # metadata-only change: same (uri, text), different dates
    meta = write_wet(_docs(spark), str(tmp_path / "d"), 2)  # epoch dates
    d = diff_wet(base, meta)
    assert d["changed"] != [] and d["content_changed"] == []
    assert d["metadata_changed"] == d["changed"]

    # incomparable shard counts fail loudly
    other = write_wet(_docs(spark), str(tmp_path / "e"), 3, date_col="warc_date")
    with pytest.raises(ValueError, match="n_shards"):
        diff_wet(base, other)
    # a non-WET manifest (e.g. dataset_export's) fails loudly up front
    # instead of KeyError-ing on sha256 mid-loop (review finding)
    with pytest.raises(ValueError, match="not a WET manifest"):
        diff_wet(base, {"format": "parquet", "n_shards": 2, "shards": {}})
    # a hand-truncated manifest violates the fixed-file-set invariant
    clipped = {**same, "shards": {"0": same["shards"]["0"]}}
    with pytest.raises(ValueError, match="shard-id sets diverge"):
        diff_wet(base, clipped)
    # no dead added/removed buckets: the file set is fixed by construction
    assert set(diff_wet(base, same)) == {
        "changed", "content_changed", "metadata_changed", "unchanged"
    }


def test_verify_wet_catches_missing_shard(spark, tmp_path):
    out = str(tmp_path / "wet")
    write_wet(_docs(spark), out, 2, date_col="warc_date")
    os.remove(os.path.join(out, "part-00001-of-00002.warc.gz"))
    with pytest.raises(ValueError, match="missing"):
        verify_wet(out)
