"""Line-level boilerplate dedup — remove lines duplicated ACROSS documents.

The corpus-dedup ladder so far removes whole near-duplicate documents
(MinHash/SimHash, ``operators/dedup.py``) and exact repeated SPANS
(``operators/dedup_substring.py``). Web corpora need a third, line-shaped
pass: navigation menus, cookie banners, footers, and share buttons survive
HTML extraction as short LINES repeated across thousands of pages of the
same site. The standard treatment (CCNet's paragraph hashing; RefinedWeb's
line-wise filtering) counts each normalized line's document frequency over
the whole corpus and strips lines that appear in too many distinct
documents — removing the boilerplate while leaving every document's unique
prose intact.

Semantics (deterministic, oracle-checked in ``tests/test_linededup.py``):

* A document's lines are its ``\\n``-separated segments, in order.
* A line PARTICIPATES in dedup when its trimmed form has at least
  ``min_line_chars`` characters — trivial/blank lines neither count toward
  document frequency nor get removed (they are structure, not content).
  "Trimmed" is Spark ``trim`` semantics: leading/trailing SPACE (0x20)
  only — tabs and Unicode spaces are significant, the same rule DuckDB's
  default ``trim`` applies, so the oracle stays aligned by construction.
* A participating line is BOILERPLATE when its trimmed form occurs in at
  least ``min_doc_count`` distinct documents. All its occurrences are
  removed from every document (CCNet removes all copies rather than keeping
  a canonical one: a nav menu is noise in every document it appears in).
* Surviving lines reassemble in their original order; documents that lose
  every line come back with empty text (callers gate on ``kept_ratio`` —
  a page that was ALL boilerplate usually should not survive anyway), and
  NULL text is handled as empty text: every input document appears in the
  output, unconditionally.

Spark-first plan (all JVM built-ins, no Python in the hot path):
``posexplode(split(text))`` → document-frequency aggregation keyed on
``xxhash64(trimmed_line)`` (an 8-byte shuffle key instead of the line
bytes; at 64 bits a collision needs ~2^32 DISTINCT lines — billions — and
the failure mode is one extra dropped line, not corruption) → left join of
the boilerplate-hash set back onto the exploded lines → filter →
``array_sort(collect_list(struct(pos, line)))`` reassembly. Three shuffles
total (count agg, join, reassembly groupBy), each on a bounded key.

100 TB posture: the document-frequency table is corpus-sized but collapses
map-side (partial aggregation on the hash); only hashes PAST the threshold
join back, and that boilerplate set is typically small enough to broadcast
— the default here broadcasts when Spark's AQE deems it so, and the join
key is the 8-byte hash either way. The hot-key hazard (one banner line in
every document of a huge site) sits on the PROBE side of the join, which
AQE's skew-join splitting handles; the build side is one row per hash by
construction.

Not registry-checked by design: the synthetic ``documents`` fixture table is
single-line (no ``\\n`` anywhere at any SF), so a registered query would be
a structurally-trivial pass-through — coverage theater. Instead the tests
run the operator against multi-line crawl-shaped fixtures AND an equivalent
DuckDB SQL oracle (the same harness discipline as the registry), so the
semantics are measured, not just disclosed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _check_params(min_doc_count: int, min_line_chars: int) -> None:
    if min_doc_count < 2:
        raise ValueError("min_doc_count must be >= 2 (1 would drop all prose)")
    if min_line_chars < 1:
        raise ValueError(
            "min_line_chars must be >= 1 (0 would make blank lines "
            "participate and strip paragraph structure corpus-wide)"
        )


def _lines(docs: DataFrame) -> DataFrame:
    """The ONE line decomposition both functions build on (so the audit view
    always describes exactly what the removal pass will key on):
    ``(doc_id, pos, line, norm)``. NULL text decomposes like empty text —
    one blank line — so no document ever vanishes from the output."""
    return docs.select(
        F.col("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col("text"), F.lit("")), "\n")).alias(
            "pos", "raw"
        ),
    ).select(
        "doc_id",
        "pos",
        F.col("raw").alias("line"),
        F.trim(F.col("raw")).alias("norm"),
    )


def boilerplate_lines(
    docs: DataFrame,
    min_doc_count: int = 2,
    min_line_chars: int = 5,
) -> DataFrame:
    """The audit view: each boilerplate line's trimmed form with its distinct-
    document frequency, most-widespread first. ``(line, doc_count)`` —
    what a curator eyeballs to tune ``min_doc_count`` before running the
    removal pass."""
    _check_params(min_doc_count, min_line_chars)
    return (
        _lines(docs)
        .filter(F.length("norm") >= min_line_chars)
        .groupBy(F.col("norm").alias("line"))
        .agg(F.count_distinct("doc_id").alias("doc_count"))
        .filter(F.col("doc_count") >= min_doc_count)
        .orderBy(F.col("doc_count").desc(), F.col("line"))
    )


def dedupe_lines(
    docs: DataFrame,
    min_doc_count: int = 2,
    min_line_chars: int = 5,
) -> DataFrame:
    """Strip cross-document boilerplate lines (module docstring has the full
    semantics). Input needs ``doc_id`` and ``text``; output is one row per
    input document — NULL text included, as an empty document: ``doc_id``,
    cleaned ``text``, ``n_lines`` (original), ``n_dropped``, and
    ``kept_ratio`` (surviving/original lines, 1.0 for a document with no
    participating duplicates; callers gate low ratios)."""
    _check_params(min_doc_count, min_line_chars)
    lines = _lines(docs)
    participating = F.length("norm") >= min_line_chars
    # 8-byte shuffle/join key; collision math in the module docstring
    keyed = lines.withColumn(
        "line_h", F.when(participating, F.xxhash64("norm"))
    )
    dup_hashes = (
        keyed.filter(F.col("line_h").isNotNull())
        .groupBy("line_h")
        .agg(F.count_distinct("doc_id").alias("doc_count"))
        .filter(F.col("doc_count") >= min_doc_count)
        .select("line_h", F.lit(True).alias("is_dup"))
    )
    # LEFT join (not anti) so dropped lines stay countable, then ONE
    # aggregation produces text, totals, and drops together — the exploded
    # line set is scanned and shuffled once, not re-executed for a separate
    # totals pass; NULL line_h never matches, so blank/short lines keep
    # is_dup NULL and survive
    marked = keyed.join(dup_hashes, "line_h", "left")
    return marked.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    # collect_list skips NULLs: dropped lines vanish here
                    F.collect_list(
                        F.when(F.col("is_dup").isNull(), F.struct("pos", "line"))
                    )
                ),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_lines"),
        F.count(F.col("is_dup")).alias("n_dropped"),
    ).select(
        "doc_id",
        "text",
        "n_lines",
        "n_dropped",
        (
            (F.col("n_lines") - F.col("n_dropped"))
            / F.col("n_lines").cast("double")
        ).alias("kept_ratio"),
    )
