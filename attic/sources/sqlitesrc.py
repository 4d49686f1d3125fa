"""SQLite database payloads as a dataset source — stdlib ``sqlite3``.

Datasets ship as SQLite constantly: app exports, annotation tools,
scraped-site dumps, HuggingFace-adjacent ``.db``/``.sqlite`` files
inside archive shards. Python SHIPS a full SQLite engine, so the repo's
codec rule points the other way here than for zstd/brotli: use the
stdlib (as zlib backs gzip), don't re-derive the b-tree format. The
3.11 ``Connection.deserialize`` API reads a database from BYTES, which
is exactly the shape this engine's ingest paths produce (zip/tar
members, WARC payloads, binaryFile rows) — no temp files, no
filesystem round trip inside executors.

Containment: every connection is in-memory and used read-only —
``query_only`` is set, nothing here ever writes or executes caller SQL
(table names are validated against ``sqlite_schema`` before being
quoted into the one SELECT this module issues). A corrupt or
non-database payload raises ValueError with ``origin`` context
(sqlite3's DatabaseError is wrapped, never leaked). ``max_bytes``
bounds the in-memory database (deserialize materializes the payload).

A database whose header carries the WAL read/write version (byte
18/19 = 2) decodes from the MAIN file only — that is the consistent
last-checkpointed snapshot; un-checkpointed frames live in a ``-wal``
companion this byte-payload world cannot see, and ``sqlite_meta``
surfaces ``wal=True`` so curation can flag possibly-stale snapshots.

Spark integration follows the archive-source contract: one task per
database file via ``binaryFile`` + ``mapInPandas``
(``sqlite_to_documents``), landing documents-shaped rows so sqlite
corpora flow into the same quality→dedup→pack→publish chain as every
other text source.

Reference parity: none — builder-brief dataset-pipeline surface
(SURVEY §2-D).
"""

from __future__ import annotations

import sqlite3

SQLITE_MAGIC = b"SQLite format 3\x00"


def looks_like_sqlite(payload: bytes) -> bool:
    return payload[: len(SQLITE_MAGIC)] == SQLITE_MAGIC


def _connect(data: bytes, origin: str, max_bytes: int) -> sqlite3.Connection:
    if not looks_like_sqlite(data):
        raise ValueError(
            f"sqlite {origin}: not a SQLite database "
            f"(bytes 0-15 {data[:16]!r})"
        )
    if len(data) > max_bytes:
        raise ValueError(
            f"sqlite {origin}: {len(data)}-byte database exceeds the "
            f"{max_bytes}-byte budget"
        )
    if data[18] == 2 or data[19] == 2:
        # WAL-mode main file: an in-memory deserialized database cannot
        # host a -wal companion, so SQLite refuses to query it. The
        # main file IS the last-checkpointed consistent snapshot; flip
        # the read/write version bytes to legacy ON OUR COPY (the
        # standard recovery move) and it opens read-only. sqlite_meta
        # surfaces wal=True from the ORIGINAL header.
        data = data[:18] + b"\x01\x01" + data[20:]
    con = sqlite3.connect(":memory:")
    try:
        con.deserialize(data)
        con.execute("PRAGMA query_only = 1")
    except sqlite3.Error as e:
        con.close()
        raise ValueError(f"sqlite {origin}: not deserializable: {e}") from None
    return con


def _tables(con: sqlite3.Connection, origin: str) -> list:
    try:
        return [
            (name, rootpage)
            for name, rootpage in con.execute(
                "SELECT name, rootpage FROM sqlite_schema "
                "WHERE type = 'table' AND name NOT LIKE 'sqlite_%' "
                "ORDER BY name"
            )
        ]
    except sqlite3.DatabaseError as e:
        raise ValueError(f"sqlite {origin}: corrupt schema: {e}") from None


def sqlite_meta(
    data: bytes, origin: str = "<bytes>", max_bytes: int = 1 << 28
) -> dict:
    """Facts for the census: page size, text encoding, table names with
    row counts, the WAL flag from the header bytes."""
    wal = len(data) > 19 and (data[18] == 2 or data[19] == 2)
    con = _connect(data, origin, max_bytes)
    try:
        try:
            (page_size,) = con.execute("PRAGMA page_size").fetchone()
            (encoding,) = con.execute("PRAGMA encoding").fetchone()
        except sqlite3.DatabaseError as e:
            raise ValueError(
                f"sqlite {origin}: corrupt database header: {e}"
            ) from None
        tables = []
        for name, _root in _tables(con, origin):
            try:
                (count,) = con.execute(
                    f'SELECT count(*) FROM "{name}"'
                ).fetchone()
            except sqlite3.DatabaseError as e:
                raise ValueError(
                    f"sqlite {origin}: corrupt table {name!r}: {e}"
                ) from None
            tables.append({"name": name, "rows": count})
        return {
            "page_size": page_size,
            "encoding": encoding,
            "n_tables": len(tables),
            "tables": tables,
            "wal": wal,
        }
    finally:
        con.close()


def sqlite_rows(
    data: bytes,
    table: str,
    origin: str = "<bytes>",
    max_bytes: int = 1 << 28,
):
    """All rows of ``table`` as ``(column_names, row_tuples)``. The
    table name is validated against the schema BEFORE being quoted into
    the SELECT — an unknown name raises naming the known tables."""
    con = _connect(data, origin, max_bytes)
    try:
        known = [n for n, _r in _tables(con, origin)]
        if table not in known:
            raise ValueError(
                f"sqlite {origin}: no table {table!r} (has {known})"
            )
        try:
            cur = con.execute(f'SELECT * FROM "{table}"')
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except sqlite3.DatabaseError as e:
            raise ValueError(
                f"sqlite {origin}: corrupt table {table!r}: {e}"
            ) from None
        return cols, rows
    finally:
        con.close()


def sqlite_to_documents(
    spark,
    path: str,
    table: str,
    id_col: str,
    text_col: str,
    glob: str = "*.{sqlite,db,sqlite3}",
    max_bytes: int = 1 << 28,
):
    """Documents-shaped landing from a directory of SQLite files: one
    task per database (the archive-source contract), ``doc_id`` =
    ``<file>#<id_col value>``, text from ``text_col`` cast to string.
    Strict: a file without the table or columns kills the job loudly —
    a corpus definition naming a missing column is a bug, not data."""
    from pyspark.sql import types as T

    from hbase_observer_es_spark.session import apply_runtime_conf

    apply_runtime_conf(spark)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("text", T.StringType()),
        ]
    )
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def explode(batches):
        import pandas as pd

        for pdf in batches:
            out_ids, out_texts = [], []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                cols, rows = sqlite_rows(data, table, origin=fpath,
                                         max_bytes=max_bytes)
                for want in (id_col, text_col):
                    if want not in cols:
                        raise ValueError(
                            f"sqlite {fpath}: table {table!r} has no "
                            f"column {want!r} (has {cols})"
                        )
                ii, ti = cols.index(id_col), cols.index(text_col)
                for row in rows:
                    out_ids.append(f"{fpath}#{row[ii]}")
                    out_texts.append(
                        None if row[ti] is None else str(row[ti])
                    )
            yield pd.DataFrame({"doc_id": out_ids, "text": out_texts})

    return binary.mapInPandas(explode, schema=schema)
