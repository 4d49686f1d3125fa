"""SQLite dataset source (attic/sources/sqlitesrc.py) — stdlib engine over
byte payloads via Connection.deserialize.

The stdlib is both producer and reader here (the zlib-for-gzip
convention), so the tests focus on the CONTRACTS this module adds:
byte-payload round trips across value types, read-only containment,
table-name validation, corruption and budget refusals with origin
context, WAL surfacing, census routing, and the documents landing."""

from __future__ import annotations

import sqlite3

import pytest

from attic.sources.sqlitesrc import (
    looks_like_sqlite,
    sqlite_meta,
    sqlite_rows,
    sqlite_to_documents,
)


def _db(setup_sql, pragmas=()) -> bytes:
    con = sqlite3.connect(":memory:")
    for p in pragmas:
        con.execute(p)
    con.executescript(setup_sql)
    con.commit()
    data = con.serialize()
    con.close()
    return bytes(data)


_CORPUS = _db(
    """
    CREATE TABLE docs (id INTEGER PRIMARY KEY, body TEXT, score REAL,
                       raw BLOB, note TEXT);
    INSERT INTO docs VALUES (1, 'first document', 0.5, x'00ff10', NULL);
    INSERT INTO docs VALUES (2, 'second — unicode ünïcødé', -2.25,
                             NULL, 'n');
    INSERT INTO docs VALUES (3, NULL, NULL, x'', '');
    CREATE TABLE meta (k TEXT PRIMARY KEY, v) WITHOUT ROWID;
    INSERT INTO meta VALUES ('lang', 'en'), ('big', -9223372036854775808);
    """
)


def test_round_trip_all_value_types():
    cols, rows = sqlite_rows(_CORPUS, "docs")
    assert cols == ["id", "body", "score", "raw", "note"]
    assert rows[0] == (1, "first document", 0.5, b"\x00\xff\x10", None)
    assert rows[1][1] == "second — unicode ünïcødé" and rows[1][2] == -2.25
    assert rows[2] == (3, None, None, b"", "")
    # WITHOUT ROWID tables read fine through the stdlib engine
    cols2, rows2 = sqlite_rows(_CORPUS, "meta")
    assert ("big", -9223372036854775808) in rows2


def test_overflow_pages_and_many_rows():
    big_text = "long document body " * 4000  # far past one page
    con = sqlite3.connect(":memory:")
    con.execute("CREATE TABLE t (i INTEGER, body TEXT)")
    con.executemany(
        "INSERT INTO t VALUES (?, ?)",
        [(i, big_text + str(i)) for i in range(50)],
    )
    con.commit()
    data = bytes(con.serialize())
    con.close()
    cols, rows = sqlite_rows(data, "t")
    assert len(rows) == 50 and rows[7][1].endswith("7")
    assert rows[7][1].startswith("long document body")


def test_meta_and_census_routing():
    m = sqlite_meta(_CORPUS)
    assert m["n_tables"] == 2 and m["wal"] is False
    assert {"name": "docs", "rows": 3} in m["tables"]
    assert m["page_size"] >= 512 and m["encoding"].startswith("UTF")

    from attic.operators.media_census import classify_media

    row = classify_media(_CORPUS, origin="corpus.db")
    assert (row["family"], row["format"]) == ("dataset", "sqlite")
    assert row["n_frames"] == 2
    assert "docs(3)" in row["detail"] and "meta(2)" in row["detail"]


def test_wal_header_is_surfaced(tmp_path):
    """A genuinely WAL-mode database (the header keeps version 2 after a
    clean close) decodes from the main file and surfaces the flag."""
    f = tmp_path / "w.db"
    con = sqlite3.connect(str(f))
    con.execute("PRAGMA journal_mode=wal")
    con.execute("CREATE TABLE t (x)")
    con.execute("INSERT INTO t VALUES (42)")
    con.commit()
    con.close()
    data = f.read_bytes()
    assert data[18] == 2 and data[19] == 2
    m = sqlite_meta(data)
    assert m["wal"] is True
    assert sqlite_rows(data, "t")[1] == [(42,)]
    from attic.operators.media_census import classify_media

    assert "wal snapshot" in classify_media(data, origin="w.db")["detail"]


def test_refusals_with_origin():
    assert not looks_like_sqlite(b"not a database")
    with pytest.raises(ValueError, match=r"sqlite x\.db: not a SQLite"):
        sqlite_meta(b"not a database at all!!", origin="x.db")
    with pytest.raises(ValueError, match="exceeds the 100-byte budget"):
        sqlite_meta(_CORPUS, max_bytes=100)
    with pytest.raises(ValueError, match=r"no table 'gone'"):
        sqlite_rows(_CORPUS, "gone")
    # a truncated database must raise, not return partial rows
    with pytest.raises(ValueError, match="sqlite t.db"):
        sqlite_rows(_CORPUS[: len(_CORPUS) // 2], "docs", origin="t.db")


def test_connection_is_read_only():
    """query_only containment: even a hostile table name cannot write —
    names are validated against the schema before quoting."""
    with pytest.raises(ValueError, match="no table"):
        sqlite_rows(_CORPUS, 'docs"; DROP TABLE docs; --')


def test_documents_landing(spark, tmp_path):
    p = tmp_path / "dbs"
    p.mkdir()
    (p / "a.sqlite").write_bytes(_CORPUS)
    df = sqlite_to_documents(
        spark, str(p), table="docs", id_col="id", text_col="body"
    )
    rows = {r["doc_id"].split("#")[-1]: r["text"] for r in df.collect()}
    assert rows["1"] == "first document" and rows["3"] is None
    with pytest.raises(Exception, match="no column 'missing'"):
        sqlite_to_documents(
            spark, str(p), table="docs", id_col="id", text_col="missing"
        ).collect()


# -------------------------------------------- columnar census (r16)


def test_census_classifies_columnar_dataset_payloads():
    """Parquet / ORC / Arrow-IPC payloads inside a mixed dump census as
    family=dataset with row counts and the column list; corrupt ones
    fold into error rows instead of killing the partition."""
    import io

    import pyarrow as pa
    import pyarrow.orc as orc
    import pyarrow.parquet as pq

    from attic.operators.media_census import classify_media

    t = pa.table({"doc_id": [1, 2, 3], "text": ["a", "b", "c"]})
    buf = io.BytesIO()
    pq.write_table(t, buf)
    row = classify_media(buf.getvalue(), origin="d.parquet")
    assert (row["family"], row["format"], row["n_frames"]) == (
        "dataset", "parquet", 3,
    )
    assert "doc_id" in row["detail"] and "2 columns" in row["detail"]

    buf2 = io.BytesIO()
    orc.write_table(t, buf2)
    row2 = classify_media(buf2.getvalue(), origin="d.orc")
    assert (row2["family"], row2["format"], row2["n_frames"]) == (
        "dataset", "orc", 3,
    )

    sink = pa.BufferOutputStream()
    w = pa.ipc.new_file(sink, t.schema)
    w.write_table(t)
    w.close()
    row3 = classify_media(sink.getvalue().to_pybytes(), origin="d.arrow")
    assert (row3["family"], row3["format"], row3["n_frames"]) == (
        "dataset", "arrow-ipc", 3,
    )

    # corrupt parquet: magic at both ends, garbage between
    bad = b"PAR1" + b"\x00" * 64 + b"PAR1"
    err = classify_media(bad, origin="bad.parquet")
    assert err["family"] == "error" and "corrupt" in err["detail"]
