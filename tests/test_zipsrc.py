"""ZIP ingest: stdlib-built archives through the Spark member explosion,
guards and refusals loud with archive+member context."""

from __future__ import annotations

import io
import os
import zipfile

import pytest

from attic.sources.zipsrc import (
    read_zip_members,
    zip_texts_to_documents,
)


def _zip_bytes(members: dict, method=zipfile.ZIP_DEFLATED) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name, content in members.items():
            zf.writestr(name, content)
    return buf.getvalue()


@pytest.fixture()
def zip_dir(tmp_path):
    a = _zip_bytes({"docs/one.txt": "alpha text", "docs/two.txt": "beta text",
                    "img/pix.bin": b"\x00\x01\x02", "docs/": b""})
    b = _zip_bytes({"three.txt": "gamma"}, method=zipfile.ZIP_STORED)
    (tmp_path / "a.zip").write_bytes(a)
    (tmp_path / "b.zip").write_bytes(b)
    (tmp_path / "notes.txt").write_text("not an archive")
    return str(tmp_path)


def test_members_explode_one_task_per_archive(spark, zip_dir):
    rows = read_zip_members(spark, zip_dir).collect()
    got = {(os.path.basename(r.archive.replace("file:", "")), r.member): bytes(r.content)
           for r in rows}
    assert got == {
        ("a.zip", "docs/one.txt"): b"alpha text",
        ("a.zip", "docs/two.txt"): b"beta text",
        ("a.zip", "img/pix.bin"): b"\x00\x01\x02",
        ("b.zip", "three.txt"): b"gamma",
    }
    assert all(r.size == len(bytes(r.content)) for r in rows)


def test_member_glob_filters_inside_the_walk(spark, zip_dir):
    rows = read_zip_members(spark, zip_dir, member_glob="*.txt").collect()
    assert sorted(r.member for r in rows) == [
        "docs/one.txt", "docs/two.txt", "three.txt"
    ]


def test_texts_to_documents_shape(spark, zip_dir):
    df = zip_texts_to_documents(spark, zip_dir)
    rows = {r.text: (r.uri, r.doc_uid) for r in df.collect()}
    assert set(rows) == {"alpha text", "beta text", "gamma"}
    uri, uid = rows["gamma"]
    assert uri.endswith("b.zip!three.txt") and isinstance(uid, int)
    # ids are the uri hash: stable across reads
    again = {r.text: r.doc_uid for r in zip_texts_to_documents(spark, zip_dir).collect()}
    assert again["gamma"] == uid


def test_corrupt_archive_names_itself(spark, tmp_path):
    (tmp_path / "bad.zip").write_bytes(b"PK\x03\x04 garbage that is not a zip")
    with pytest.raises(Exception, match=r"bad\.zip: not a readable ZIP"):
        read_zip_members(spark, str(tmp_path)).collect()


def test_invalid_utf8_member_is_loud(spark, tmp_path):
    (tmp_path / "m.zip").write_bytes(_zip_bytes({"x.txt": b"\xff\xfe broken"}))
    with pytest.raises(Exception, match=r"'x\.txt' is not valid UTF-8"):
        zip_texts_to_documents(spark, str(tmp_path)).collect()


def test_encrypted_member_refused_by_name(spark, tmp_path):
    """Flag-bits bit 0 marks encryption; forge it on a stored member."""
    raw = _zip_bytes({"sec.txt": "secret"}, method=zipfile.ZIP_STORED)
    buf = io.BytesIO(raw)
    zf = zipfile.ZipFile(buf)
    info = zf.infolist()[0]
    assert info.flag_bits & 1 == 0
    # flip the general-purpose flag byte in BOTH local + central headers
    lfh = raw.index(b"PK\x03\x04")
    cdh = raw.index(b"PK\x01\x02")
    forged = bytearray(raw)
    forged[lfh + 6] |= 1
    forged[cdh + 8] |= 1
    (tmp_path / "enc.zip").write_bytes(bytes(forged))
    with pytest.raises(Exception, match=r"'sec\.txt' is encrypted"):
        read_zip_members(spark, str(tmp_path)).collect()


def test_member_size_guard(monkeypatch):
    """Guard check runs executor-side in Spark; here the walk is driven
    directly (monkeypatched module globals do not reach Spark's python
    worker processes)."""
    import attic.sources.zipsrc as zs

    monkeypatch.setattr(zs, "MAX_MEMBER_BYTES", 4)
    with pytest.raises(ValueError, match=r"over the 4 member guard"):
        list(zs._iter_members(_zip_bytes({"big.txt": "12345"}), "t.zip", None))
    monkeypatch.setattr(zs, "MAX_MEMBER_BYTES", 1 << 30)
    monkeypatch.setattr(zs, "MAX_ARCHIVE_BYTES", 6)
    with pytest.raises(ValueError, match=r"past the 6-byte guard"):
        list(zs._iter_members(
            _zip_bytes({"a.txt": "1234", "b.txt": "5678"}), "t.zip", None
        ))


def test_zero_byte_members_skipped(spark, tmp_path):
    (tmp_path / "z.zip").write_bytes(
        _zip_bytes({"keep.txt": "data", ".gitkeep": b"", "empty.txt": b""})
    )
    rows = read_zip_members(spark, str(tmp_path)).collect()
    assert [r.member for r in rows] == ["keep.txt"]


def test_member_glob_is_case_sensitive_everywhere():
    from attic.sources.zipsrc import _iter_members

    payload = _zip_bytes({"README.TXT": "upper", "notes.txt": "lower"})
    names = [n for n, _ in _iter_members(payload, "t.zip", "*.txt")]
    assert names == ["notes.txt"]
