"""Line-level boilerplate dedup (attic/operators/linededup.py): semantics on
crawl-shaped multi-line docs, DuckDB oracle parity, edge totality, and the
composition with HTML extraction."""

from __future__ import annotations

import duckdb
import pytest

from attic.operators.linededup import (
    boilerplate_lines,
    dedupe_lines,
)

_NAV = "Home | About | Contact"
_COOKIE = "This site uses cookies to improve your experience."
_DOCS = [
    (1, f"{_NAV}\nUnique prose of page one.\n{_COOKIE}"),
    (2, f"{_NAV}\nEntirely different second page body.\n{_COOKIE}\nMore text."),
    (3, f"{_NAV}\nThird page says something else again."),
    (4, "A page with no boilerplate at all.\n\nok"),  # 'ok' is sub-threshold
]


def _spark_docs(spark):
    return spark.createDataFrame(_DOCS, "doc_id long, text string")


def test_boilerplate_lines_audit_view(spark):
    rows = boilerplate_lines(_spark_docs(spark)).collect()
    assert [(r["line"], r["doc_count"]) for r in rows] == [
        (_NAV, 3),
        (_COOKIE, 2),
    ]


def test_dedupe_lines_strips_all_copies_keeps_order(spark):
    out = {r["doc_id"]: r for r in dedupe_lines(_spark_docs(spark)).collect()}
    assert out[1]["text"] == "Unique prose of page one."
    assert out[2]["text"] == "Entirely different second page body.\nMore text."
    assert out[3]["text"] == "Third page says something else again."
    # untouched document: blank and sub-threshold lines survive verbatim
    assert out[4]["text"] == "A page with no boilerplate at all.\n\nok"
    assert out[4]["kept_ratio"] == 1.0
    assert out[1]["n_lines"] == 3 and out[1]["n_dropped"] == 2
    assert out[2]["n_dropped"] == 2 and out[2]["n_lines"] == 4


def test_document_that_is_all_boilerplate_survives_empty(spark):
    docs = spark.createDataFrame(
        [(1, _NAV), (2, _NAV), (3, f"{_NAV}")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedupe_lines(docs).collect()}
    assert set(out) == {1, 2, 3}  # never silently dropped
    assert all(r["text"] == "" for r in out.values())
    assert all(r["kept_ratio"] == 0.0 for r in out.values())


def test_min_doc_count_threshold(spark):
    # at min_doc_count=4 nothing repeats often enough: all docs untouched
    out = dedupe_lines(_spark_docs(spark), min_doc_count=4).collect()
    original = dict(_DOCS)
    assert {r["doc_id"]: r["text"] for r in out} == original
    with pytest.raises(ValueError, match="min_doc_count"):
        dedupe_lines(_spark_docs(spark), min_doc_count=1)
    with pytest.raises(ValueError, match="min_doc_count"):
        boilerplate_lines(_spark_docs(spark), min_doc_count=0)
    # min_line_chars=0 would strip blank structural lines corpus-wide
    with pytest.raises(ValueError, match="min_line_chars"):
        dedupe_lines(_spark_docs(spark), min_line_chars=0)
    with pytest.raises(ValueError, match="min_line_chars"):
        boilerplate_lines(_spark_docs(spark), min_line_chars=-1)


def test_null_text_document_survives_as_empty(spark):
    """Totality: posexplode of split(NULL) emits zero rows, which silently
    dropped NULL-text documents before the review fix — they must come back
    as empty documents instead."""
    docs = spark.createDataFrame(
        [(1, "hello world line\nmore"), (2, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in dedupe_lines(docs).collect()}
    assert set(out) == {1, 2}
    assert out[2]["text"] == ""
    assert out[2]["n_lines"] == 1 and out[2]["n_dropped"] == 0
    assert out[2]["kept_ratio"] == 1.0


def test_trim_normalization_counts_indented_copies_together(spark):
    docs = spark.createDataFrame(
        [(1, f"  {_NAV}  \nbody one here"), (2, f"{_NAV}\nbody two here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["text"] for r in dedupe_lines(docs).collect()}
    # both the indented and plain copies are the SAME normalized line
    assert out == {1: "body one here", 2: "body two here"}


def test_duckdb_oracle_parity(spark):
    """The registry harness discipline without the registry: the exact same
    semantics in ANSI SQL over the same rows must agree row-for-row."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM (VALUES "
        + ", ".join("(?, ?)" for _ in _DOCS)
        + ") t(doc_id, text)",
        [v for row in _DOCS for v in row],
    )
    oracle = con.execute(
        """
        WITH split AS (
          SELECT doc_id, string_split(text, chr(10)) AS parts FROM docs
        ),
        lines AS (
          SELECT doc_id, u.i AS pos, parts[u.i] AS line,
                 trim(parts[u.i]) AS norm
          FROM split, unnest(range(1, len(parts) + 1)) AS u(i)
        ),
        dup AS (
          SELECT norm FROM lines WHERE length(norm) >= 5
          GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
        ),
        kept AS (
          SELECT * FROM lines
          WHERE NOT (length(norm) >= 5 AND norm IN (SELECT norm FROM dup))
        )
        SELECT l.doc_id,
               coalesce(k.text, '') AS text,
               l.n_lines,
               l.n_lines - coalesce(k.n_kept, 0) AS n_dropped,
               coalesce(k.n_kept, 0) / CAST(l.n_lines AS DOUBLE) AS kept_ratio
        FROM (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id) l
        LEFT JOIN (
          SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        ) k USING (doc_id)
        ORDER BY doc_id
        """
    ).fetchall()
    got = [
        (r["doc_id"], r["text"], r["n_lines"], r["n_dropped"], r["kept_ratio"])
        for r in dedupe_lines(_spark_docs(spark)).orderBy("doc_id").collect()
    ]
    assert got == [tuple(row) for row in oracle]


def test_property_totality_and_idempotence(spark):
    """Driving Spark per hypothesis example is too slow, so the property
    runs the same semantics via a pure-Python model first (many examples),
    then replays a handful of adversarial corpora through Spark and checks
    (a) model agreement, (b) idempotence: a second pass drops nothing —
    removing every copy of a boilerplate line leaves surviving frequencies
    unchanged, so no new line can cross the threshold."""
    from hypothesis import given, settings, strategies as st

    line_st = st.text(
        alphabet=st.characters(blacklist_characters="\n", max_codepoint=0x2FF),
        max_size=12,
    )
    corpus_st = st.lists(
        st.lists(line_st, min_size=1, max_size=6), min_size=1, max_size=6
    )

    def model(corpus):
        from collections import Counter

        freq = Counter()
        for doc in corpus:
            for norm in {l.strip(" ") for l in doc if len(l.strip(" ")) >= 5}:
                freq[norm] += 1
        dup = {n for n, c in freq.items() if c >= 2}
        return [
            [l for l in doc if not (len(l.strip(" ")) >= 5 and l.strip(" ") in dup)]
            for doc in corpus
        ]

    # the replay set is SEEDED with duplicate-heavy corpora: random draws
    # from a 768-codepoint alphabet essentially never collide on a >=5-char
    # line, so unseeded sampled examples would exercise only the
    # nothing-dropped path (review finding)
    replay = [
        [["shared banner here", "doc one prose"],
         ["shared banner here", "doc two prose", "shared banner here"],
         ["  shared banner here ", "third body"]],
        [["aaaaa", "bbbbb"], ["aaaaa"], ["bbbbb", ""], ["ccc"]],
    ]

    @given(corpus_st)
    @settings(max_examples=200, deadline=None)
    def check(corpus):
        cleaned = model(corpus)
        assert model(cleaned) == cleaned  # idempotence in the model
        if len(replay) < 7:
            replay.append(corpus)

    check()
    # the seeds really do exercise removal — the replay leg cannot
    # degenerate to a no-op comparison
    assert any(model(c) != c for c in replay)

    for corpus in replay:
        docs = spark.createDataFrame(
            [(i, "\n".join(doc)) for i, doc in enumerate(corpus)],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: r["text"] for r in dedupe_lines(docs).collect()
        }
        want = {i: "\n".join(doc) for i, doc in enumerate(model(corpus))}
        assert got == want
        again = dedupe_lines(
            spark.createDataFrame(
                [(k, v) for k, v in got.items()], "doc_id long, text string"
            )
        ).collect()
        assert all(r["n_dropped"] == 0 for r in again)


def test_composes_with_html_extraction(spark, tmp_path):
    """The intended pipeline position: WARC → extract → line dedup removes
    the shared chrome HTML extraction necessarily keeps."""
    import gzip

    from hbase_observer_es_spark.operators.html_text import warc_html_documents
    from hbase_observer_es_spark.sources.warc import read_warc

    from .warc_fixtures import http_response as _http
    from .warc_fixtures import warc_record as _record

    def page(body: str) -> bytes:
        return _http(
            (
                "<html><body><div>Site Navigation Menu</div>"
                f"<p>{body}</p><div>Copyright Example Corp</div></body></html>"
            ).encode()
        )

    shard = (
        _record("response", page("first page prose"), uri="http://x/1", rid="i1")
        + _record("response", page("second page prose"), uri="http://x/2", rid="i2")
    )
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "s.warc.gz").write_bytes(gzip.compress(shard))
    docs = warc_html_documents(read_warc(spark, str(tmp_path / "c")))
    cleaned = {r["doc_id"]: r["text"] for r in dedupe_lines(docs).collect()}
    # blank paragraph-break lines around the removed chrome are structure,
    # not content: they survive the pass (callers re-trim at landing)
    assert sorted(t.strip() for t in cleaned.values()) == [
        "first page prose",
        "second page prose",
    ]
    assert all("Navigation" not in t and "Copyright" not in t
               for t in cleaned.values())
