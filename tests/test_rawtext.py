"""Raw-text corpus source (attic/sources/rawtext.py): one file = one document."""

from __future__ import annotations

import os

from attic.sources.rawtext import (
    read_text_corpus,
    text_corpus_to_parquet,
)


def _make_tree(tmp_path):
    docs = {
        "a.txt": "first doc\nwith a newline\n",
        "b.txt": "second doc — unicode 日本 💥 and \"quotes\"",
    }
    for name, text in docs.items():
        (tmp_path / name).write_text(text, encoding="utf-8")
    # contract edges: empty files yield no row; non-matching extensions are
    # filtered before listing into tasks
    (tmp_path / "c.txt").write_text("")
    (tmp_path / "ignore.json").write_text("{}")
    return docs


def test_one_file_one_document_with_newlines(spark, tmp_path):
    docs = _make_tree(tmp_path)
    df = read_text_corpus(spark, str(tmp_path))
    rows = {os.path.basename(r.uri): r.text for r in df.collect()}
    assert rows == docs  # newlines and unicode survive; empty c.txt yields no row


def test_doc_uid_is_stable_and_uri_derived(spark, tmp_path):
    _make_tree(tmp_path)
    a = {r.uri: r.doc_uid for r in read_text_corpus(spark, str(tmp_path)).collect()}
    # edit a file's CONTENT — identity must follow the path, not the bytes
    (tmp_path / "a.txt").write_text("edited content")
    b = {r.uri: r.doc_uid for r in read_text_corpus(spark, str(tmp_path)).collect()}
    assert a == b
    assert len(set(a.values())) == len(a)  # distinct files, distinct uids


def test_glob_filters_before_read(spark, tmp_path):
    _make_tree(tmp_path)
    df = read_text_corpus(spark, str(tmp_path), glob="b.txt")
    assert [os.path.basename(r.uri) for r in df.collect()] == ["b.txt"]


def test_landing_conversion(spark, tmp_path):
    docs = _make_tree(tmp_path)
    pq = str(tmp_path / "_landed")
    text_corpus_to_parquet(spark, str(tmp_path), pq)
    back = spark.read.parquet(pq)
    assert back.columns == ["uri", "doc_uid", "text"]
    rows = {os.path.basename(r.uri): r.text for r in back.collect()}
    assert rows == docs
