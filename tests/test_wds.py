"""WebDataset sink tests: spec-shape via raw stdlib tarfile, byte-determinism,
round-trip through read_wds, the verify gate, and the fail-loud contract."""

from __future__ import annotations

import hashlib
import json
import os
import tarfile

import pytest

from attic.sinks.wds import (
    MANIFEST,
    read_wds,
    verify_wds,
    write_wds,
)

COLS = {"text": "txt", "meta": "json", "img": "bin"}


def _df(spark, rows):
    return spark.createDataFrame(
        [(k, t, m, bytearray(b) if b is not None else None) for k, t, m, b in rows],
        "doc_id string, text string, meta string, img binary",
    )


def _sample_rows(spark):
    return _df(
        spark,
        [
            ("d1", "hello world", '{"lang":"en"}', b"\x00\x01\xff"),
            ("d2", "bonjour", '{"lang":"fr"}', None),  # img member absent
            ("d3", None, '{"lang":"de"}', b"\x7f"),  # text member absent
        ],
    )


def test_roundtrip_and_manifest(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    manifest = write_wds(_sample_rows(spark), out, COLS, n_shards=2)
    assert manifest["total_samples"] == 3
    assert sum(s["files"] for s in manifest["shards"].values()) == 7
    assert verify_wds(out)["total_samples"] == 3

    back = read_wds(spark, out).collect()
    got = {(r["key"], r["ext"]): bytes(r["content"]) for r in back}
    assert got[("d1", "txt")] == b"hello world"
    assert got[("d1", "bin")] == b"\x00\x01\xff"
    assert got[("d2", "json")] == b'{"lang":"fr"}'
    assert ("d2", "bin") not in got  # NULL member: absent, not empty
    assert ("d3", "txt") not in got
    assert len(got) == 7


def test_spec_shape_with_raw_tarfile(spark, tmp_path):
    """Consumers use plain tar tooling — pin the published bytes against
    stdlib tarfile directly: USTAR headers, pinned metadata, basename
    grouping, member order by (key, mapping order)."""
    out = str(tmp_path / "wds")
    os.makedirs(out)
    write_wds(_sample_rows(spark), out, COLS, n_shards=1)
    with tarfile.open(os.path.join(out, "data-000000.tar"), "r:") as tf:
        members = tf.getmembers()
        names = [m.name for m in members]
        assert names == [
            "d1.txt", "d1.json", "d1.bin",
            "d2.txt", "d2.json",
            "d3.json", "d3.bin",
        ]
        for m in members:
            assert m.mtime == 0 and m.uid == 0 and m.gid == 0
            assert m.uname == "" and m.gname == "" and m.mode == 0o644
        assert tf.extractfile(members[0]).read() == b"hello world"


def test_byte_deterministic_reexport(spark, tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    os.makedirs(a)
    os.makedirs(b)
    df = _sample_rows(spark)
    m1 = write_wds(df.repartition(1), a, COLS, n_shards=2)
    m2 = write_wds(df.repartition(5), b, COLS, n_shards=2)
    assert m1 == m2
    for entry in m1["shards"].values():
        ba = open(os.path.join(a, entry["file"]), "rb").read()
        bb = open(os.path.join(b, entry["file"]), "rb").read()
        assert ba == bb and hashlib.sha256(ba).hexdigest() == entry["sha256"]


def test_empty_shards_publish_fixed_file_set(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    one = _df(spark, [("only", "x", "{}", None)])
    manifest = write_wds(one, out, COLS, n_shards=4)
    files = sorted(f for f in os.listdir(out) if f.endswith(".tar"))
    assert files == [f"data-{i:06d}.tar" for i in range(4)]
    empties = [s for s in manifest["shards"].values() if s["samples"] == 0]
    assert len(empties) == 3
    verify_wds(out)  # empty tars are valid tars


def test_reexport_replaces_and_failed_export_preserves(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    write_wds(_df(spark, [("a", "one", "{}", None)]), out, COLS, n_shards=1)
    before = verify_wds(out)
    # a rejected export (duplicate keys) must leave the publication intact
    dup = _df(spark, [("a", "x", "{}", None), ("a", "y", "{}", None)])
    with pytest.raises(Exception, match="duplicate sample key"):
        write_wds(dup, out, COLS, n_shards=1)
    assert verify_wds(out) == before  # prior publication untouched
    # a good re-export replaces it
    write_wds(_df(spark, [("b", "two", "{}", None)]), out, COLS, n_shards=1)
    after = verify_wds(out)
    assert after["total_samples"] == 1 and after != before


def test_verify_detects_stray_shard(spark, tmp_path):
    """read_wds globs *.tar, so an undeclared shard WOULD be consumed —
    the audited file set must equal the readable one."""
    out = str(tmp_path / "wds")
    os.makedirs(out)
    write_wds(_sample_rows(spark), out, COLS, n_shards=1)
    open(os.path.join(out, "data-999999.tar"), "wb").write(b"")
    with pytest.raises(ValueError, match="undeclared shard"):
        verify_wds(out)


def test_verify_detects_tamper(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    write_wds(_sample_rows(spark), out, COLS, n_shards=1)
    fp = os.path.join(out, "data-000000.tar")
    blob = bytearray(open(fp, "rb").read())
    blob[600] ^= 0xFF  # flip a payload byte
    open(fp, "wb").write(bytes(blob))
    with pytest.raises(ValueError, match="sha256"):
        verify_wds(out)


def test_fail_loud_contract(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    ok = _df(spark, [("k", "x", "{}", None)])
    with pytest.raises(ValueError, match="n_shards"):
        write_wds(ok, out, COLS, 0)
    with pytest.raises(ValueError, match="empty column"):
        write_wds(ok, out, {}, 1)
    with pytest.raises(ValueError, match="not in"):
        write_wds(ok, out, {"nope": "txt"}, 1)
    with pytest.raises(ValueError, match="duplicate extensions"):
        write_wds(ok, out, {"text": "txt", "meta": "txt"}, 1)
    with pytest.raises(ValueError, match="invalid extension"):
        write_wds(ok, out, {"text": "t.xt"}, 1)
    with pytest.raises(ValueError, match="only string"):
        write_wds(
            ok.selectExpr("doc_id", "1 AS n"), out, {"n": "txt"}, 1
        )
    for bad_key in ["with.dot", "with/slash", "", None, "ctrl\x01", "del\x7f"]:
        df = spark.createDataFrame([(bad_key, "x")], "doc_id string, text string")
        with pytest.raises(Exception, match="invalid sample key"):
            write_wds(df, out, {"text": "txt"}, 1)
    # a sample whose every member is NULL is a data bug
    allnull = _df(spark, [("k", None, None, None)])
    with pytest.raises(Exception, match="every member"):
        write_wds(allnull, out, COLS, 1)
    # USTAR name cap: 100 chars, fail-loud
    long = spark.createDataFrame([("k" * 120, "x")], "doc_id string, text string")
    with pytest.raises(Exception, match="USTAR"):
        write_wds(long, out, {"text": "txt"}, 1)


def test_manifest_written_and_readable(spark, tmp_path):
    out = str(tmp_path / "wds")
    os.makedirs(out)
    m = write_wds(_sample_rows(spark), out, COLS, n_shards=2)
    on_disk = json.load(open(os.path.join(out, MANIFEST)))
    assert on_disk == m
    assert on_disk["members"] == COLS
