"""Exact substring-span dedup (operators/dedup_substring.py): oracle parity,
hand-computed fixture math, short-doc and self-repetition edges, top-cut
determinism, plan hygiene."""

from __future__ import annotations

from hbase_observer_es_spark.operators.dedup_substring import (
    K_SPAN,
    SQL_DEDUP_SUBSTRING,
    SQL_DEDUP_SUBSTRING_TOP,
    q_dedup_substring,
    q_dedup_substring_top,
)

from .conftest import SF_ORACLE
from .oracle_harness import compare, duckdb_con


def test_substring_matches_oracle(spark):
    r = compare(
        "q_dedup_substring",
        q_dedup_substring(spark, SF_ORACLE),
        duckdb_con(SF_ORACLE),
        SQL_DEDUP_SUBSTRING,
    )
    assert r.ok, r.detail


def test_substring_top_matches_oracle(spark):
    r = compare(
        "q_dedup_substring_top",
        q_dedup_substring_top(spark, SF_ORACLE),
        duckdb_con(SF_ORACLE),
        SQL_DEDUP_SUBSTRING_TOP,
    )
    assert r.ok, r.detail


def _write_docs(spark, tmp_path, texts):
    rows = [(i, t, "en", "fix", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def test_hand_computed_cross_doc_span(spark, tmp_path):
    """doc0 and doc1 share one exact K-token span (their first 8 tokens);
    every other span is unique. doc0 has 9 tokens -> 2 spans, 1 duplicated.
    doc1 has 8 tokens -> 1 span, duplicated."""
    shared = " ".join(f"w{i}" for i in range(K_SPAN))
    sf = _write_docs(spark, tmp_path, [shared + " tail0", shared])
    got = {r.doc_id: r for r in q_dedup_substring(spark, sf).collect()}
    assert (got[0].n_spans, got[0].n_dup_spans) == (2, 1)
    assert (got[1].n_spans, got[1].n_dup_spans) == (1, 1)
    assert got[0].dup_frac == 0.5
    assert got[1].dup_frac == 1.0


def test_self_repetition_counts_as_duplication(spark, tmp_path):
    """A doc repeating its own 8-token block back-to-back duplicates the
    block span WITHIN itself — ExactSubstr semantics: the span occurs twice
    in the corpus, both occurrences flagged."""
    block = " ".join(f"b{i}" for i in range(K_SPAN))
    sf = _write_docs(spark, tmp_path, [block + " " + block])
    row = q_dedup_substring(spark, sf).collect()[0]
    # 16 tokens -> 9 spans; positions 1 and 9 are the same block-span.
    assert row.n_spans == K_SPAN + 1
    assert row.n_dup_spans == 2


def test_short_doc_surfaces_with_zero_spans(spark, tmp_path):
    sf = _write_docs(spark, tmp_path, ["only three tokens", " ".join(["x"] * K_SPAN)])
    got = {r.doc_id: r for r in q_dedup_substring(spark, sf).collect()}
    assert (got[0].n_spans, got[0].n_dup_spans, got[0].dup_frac) == (0, 0, 0.0)
    assert got[1].n_spans == 1  # exactly-K doc has one span


def test_top_cut_is_deterministic(spark):
    a = [tuple(r) for r in q_dedup_substring_top(spark, SF_ORACLE).collect()]
    b = [tuple(r) for r in q_dedup_substring_top(spark, SF_ORACLE).collect()]
    assert a == b
    assert all(r[1] >= 2 for r in a)


def test_plans_stay_jvm_side(spark):
    from .plan_inspect import plan_string

    for fn in (q_dedup_substring, q_dedup_substring_top):
        plan = plan_string(fn(spark, SF_ORACLE))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
