"""BPE trainer/encoder tests — bit-exact-model discipline (no SQL oracle:
the greedy rank loop is not expressible in SQL; see attic/operators/bpe.py).

Two INDEPENDENT mirrors pin the implementation:

* a naive trainer (full pair recount every iteration — O(merges × corpus),
  fine at test scale) against the incremental-index trainer;
* a sequential-by-rank encoder (replay every merge in rank order) against
  the greedy lowest-rank encoder — different algorithm, provably the same
  output (a merge minted at rank r can never create an occurrence of a
  pair ranked below r, because that pair's symbols all predate r).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from attic.operators.bpe import (
    WS_CLASS,
    add_bpe_token_count,
    encode_text,
    encode_word,
    merges_from_table,
    merges_table,
    train_bpe,
    train_bpe_on_freqs,
    vocab_from_merges,
    word_frequencies,
)

# ---------------------------------------------------------------- mirrors


def naive_train(freqs, num_merges, min_pair_count=2):
    """Full-recount trainer: the textbook algorithm, no incremental index."""
    words = [([w[i : i + 1] for i in range(len(w))], c) for w, c in freqs]
    merges = []
    for _ in range(num_merges):
        counts = {}
        for syms, c in words:
            for p in zip(syms, syms[1:]):
                counts[p] = counts.get(p, 0) + c
        live = {p: c for p, c in counts.items() if c >= min_pair_count}
        if not live:
            break
        best = min(live, key=lambda p: (-live[p], p))
        merges.append(best)
        merged = best[0] + best[1]
        new_words = []
        for syms, c in words:
            out, j = [], 0
            while j < len(syms):
                if j + 1 < len(syms) and (syms[j], syms[j + 1]) == best:
                    out.append(merged)
                    j += 2
                else:
                    out.append(syms[j])
                    j += 1
            new_words.append((out, c))
        words = new_words
    return merges


def sequential_encode(word: bytes, merges) -> list[bytes]:
    """Replay every merge in rank order, once, left-to-right."""
    syms = [word[i : i + 1] for i in range(len(word))]
    for a, b in merges:
        out, j = [], 0
        while j < len(syms):
            if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
                out.append(a + b)
                j += 2
            else:
                out.append(syms[j])
                j += 1
        syms = out
    return syms


# ---------------------------------------------------------------- goldens

# The classic worked example (10×hug, 5×pug, 12×pun, 4×bun, 5×hugs) —
# merge sequence hand-computed in the docstring order: pair counts, pick
# max, lexicographic tie-break on equal counts ((b"hug", b"s") < (b"p", ...)).
_TINY = [(b"hug", 10), (b"pug", 5), (b"pun", 12), (b"bun", 4), (b"hugs", 5)]
_TINY_MERGES = [
    (b"u", b"g"),  # 20
    (b"u", b"n"),  # 16
    (b"h", b"ug"),  # 15
    (b"p", b"un"),  # 12
    (b"hug", b"s"),  # 5 — tie with (p, ug): b"hug" < b"p"
    (b"p", b"ug"),  # 5
    (b"b", b"un"),  # 4
]


def test_golden_tiny_corpus_merges():
    assert train_bpe_on_freqs(_TINY, num_merges=100) == _TINY_MERGES


def test_golden_tiny_corpus_via_spark(spark):
    rows = [(w.decode(), ) for w, c in _TINY for _ in range(c)]
    docs = spark.createDataFrame(rows, "text string").repartition(5)
    assert train_bpe(docs, num_merges=100) == _TINY_MERGES


def test_golden_encode():
    ranks = {p: r for r, p in enumerate(_TINY_MERGES)}
    assert encode_word(b"hugs", ranks) == [b"hugs"]
    assert encode_word(b"pug", ranks) == [b"pug"]
    assert encode_word(b"bug", ranks) == [b"b", b"ug"]
    assert encode_word(b"mug", ranks) == [b"m", b"ug"]
    assert encode_word(b"hun", ranks) == [b"h", b"un"]
    assert encode_word(b"zzz", ranks) == [b"z", b"z", b"z"]


# ------------------------------------------------------------- properties


def test_trainer_matches_naive_mirror_property():
    from hypothesis import given, settings, strategies as st

    word_st = st.text(alphabet="abcdef", min_size=1, max_size=8)
    corpus_st = st.dictionaries(word_st, st.integers(1, 20), min_size=1, max_size=30)

    @given(corpus_st, st.integers(1, 25))
    @settings(max_examples=200, deadline=None)
    def check(corpus, k):
        freqs = sorted((w.encode(), c) for w, c in corpus.items())
        assert train_bpe_on_freqs(freqs, k) == naive_train(freqs, k)

    check()


def test_trainer_invariant_under_freq_table_order():
    freqs = [(b"abab", 3), (b"abba", 3), (b"baba", 2), (b"aabb", 5)]
    a = train_bpe_on_freqs(freqs, 6)
    b = train_bpe_on_freqs(list(reversed(freqs)), 6)
    assert a == b


def test_encoder_matches_sequential_replay_property():
    from hypothesis import given, settings, strategies as st

    word_st = st.text(alphabet="abcd", min_size=1, max_size=8)
    corpus_st = st.dictionaries(word_st, st.integers(1, 9), min_size=1, max_size=15)

    @given(corpus_st, st.binary(min_size=0, max_size=16))
    @settings(max_examples=300, deadline=None)
    def check(corpus, probe):
        freqs = sorted((w.encode(), c) for w, c in corpus.items())
        merges = train_bpe_on_freqs(freqs, 12)
        ranks = {p: r for r, p in enumerate(merges)}
        assert encode_word(probe, ranks) == sequential_encode(probe, merges)
        # lossless within a word, always
        assert b"".join(encode_word(probe, ranks)) == probe

    check()


def test_training_corpus_reencodes_to_trainer_segmentation():
    # encode(word) must reproduce what the trainer's replacement loop left
    merges = train_bpe_on_freqs(_TINY, 100)
    ranks = {p: r for r, p in enumerate(merges)}
    for w, _ in _TINY:
        assert b"".join(encode_word(w, ranks)) == w
    # every training word compresses to a single learned token here
    assert all(len(encode_word(w, ranks)) == 1 for w, _ in _TINY)


# ------------------------------------------------------------- spark side


def test_partitioning_invariance(spark):
    rows = [("the quick brown fox the the quick",), ("brown fox fox the quick",)]
    d1 = spark.createDataFrame(rows, "text string").repartition(1)
    d7 = spark.createDataFrame(rows * 3, "text string").repartition(7)
    m1 = train_bpe(d1.union(d1).union(d1), num_merges=10)
    m7 = train_bpe(d7, num_merges=10)
    assert m1 == m7 and len(m1) > 0


def test_whitespace_class_parity(spark):
    # Java \s and bare Python \s disagree on U+00A0; the explicit class must
    # keep both sides identical: NBSP stays INSIDE the word on both.
    text = "a\xa0b c\td\ne\x0bf\rg\fh"
    docs = spark.createDataFrame([(text,)], "text string")
    spark_words = {r["word"] for r in word_frequencies(docs).collect()}
    py_words = {w for w in re.split(WS_CLASS + "+", text) if w}
    assert spark_words == py_words == {"a\xa0b", "c", "d", "e", "f", "g", "h"}


def test_null_and_empty_text(spark):
    docs = spark.createDataFrame([(None,), ("",), ("   ",)], "text string")
    assert word_frequencies(docs).count() == 0
    out = add_bpe_token_count(docs, [(b"a", b"b")]).collect()
    assert [r["n_bpe_tokens"] for r in out] == [0, 0, 0]


def test_min_word_count_floor(spark):
    # the web-scale knob: tail words drop Spark-side, BEFORE collect
    docs = spark.createDataFrame([("aa aa aa bb",)], "text string")
    wf = {
        r["word"]: r["count"]
        for r in word_frequencies(docs, min_word_count=2).collect()
    }
    assert wf == {"aa": 3}
    with pytest.raises(ValueError, match="min_word_count"):
        word_frequencies(docs, min_word_count=0)


def test_overlong_words_excluded_from_training(spark):
    docs = spark.createDataFrame([("ab " * 5 + "c" * 300,)], "text string")
    words = {r["word"] for r in word_frequencies(docs).collect()}
    assert words == {"ab"}  # the 300-byte run is junk, not vocabulary


def test_encoder_slices_overlong_words():
    merges = [(b"a", b"a"), (b"aa", b"aa")]
    # cap 4: "aaaaaa" (6 bytes) slices into "aaaa" + "aa" -> [aaaa, aa]
    ids = encode_text("aaaaaa", merges, max_word_bytes=4)
    vocab = vocab_from_merges(merges)
    assert ids == [vocab[b"aaaa"], vocab[b"aa"]]


def test_spark_count_matches_driver_encode(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
        .cache()
    )
    merges = train_bpe(docs, num_merges=200)
    assert len(merges) > 50  # real text must actually train something
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in add_bpe_token_count(docs, merges).collect()
    }
    for r in docs.collect():
        assert got[r["doc_id"]] == len(encode_text(r["text"], merges))
    docs.unpersist()


def test_unicode_multibyte_roundtrip(spark):
    docs = spark.createDataFrame([("héllo wörld héllo héllo wörld",)], "text string")
    merges = train_bpe(docs, num_merges=30)
    ranks = {p: r for r, p in enumerate(merges)}
    for w in ("héllo", "wörld"):
        toks = encode_word(w.encode("utf-8"), ranks)
        assert b"".join(toks) == w.encode("utf-8")
        assert len(toks) == 1  # frequent words collapse fully
    # count via Spark: 5 word occurrences, each one token
    n = add_bpe_token_count(docs, merges).head()["n_bpe_tokens"]
    assert n == 5


def test_tokenizer_stats_fertility(spark):
    from attic.operators.bpe import tokenizer_stats

    # train ONLY on the 'seen' slice; the unseen slice must compress worse
    rows = [("seen", "the quick brown fox " * 8)] * 20 + [
        ("unseen", "zq xv jk wpf ggh " * 8)
    ] * 20
    docs = spark.createDataFrame(rows, "lang string, text string")
    merges = train_bpe(
        docs.where("lang = 'seen'"), num_merges=200
    )
    stats = {r["lang"]: r for r in tokenizer_stats(docs, merges).collect()}
    for s in stats.values():
        assert s["n_docs"] == 20 and s["n_bytes"] > 0 and s["n_tokens"] > 0
    bpt = {g: s["n_bytes"] / s["n_tokens"] for g, s in stats.items()}
    assert bpt["seen"] > 2.0 > bpt["unseen"]  # fertility gap is visible
    # exactness: the aggregate equals per-doc driver encodes summed
    want = sum(
        len(encode_text(t, merges)) for g, t in rows if g == "seen"
    )
    assert stats["seen"]["n_tokens"] == want
    # NULL text: zero bytes, zero tokens, still counted as a doc
    with_null = spark.createDataFrame(
        [("x", None)], "lang string, text string"
    )
    r = tokenizer_stats(with_null, merges).head()
    assert (r["n_docs"], r["n_bytes"], r["n_tokens"]) == (1, 0, 0)


# ---------------------------------------------------------------- artifact


def test_merges_table_roundtrip(spark):
    merges = train_bpe_on_freqs(_TINY, 100)
    df = merges_table(spark, merges)
    assert merges_from_table(df) == merges
    # persistable: survives a parquet write/read cycle byte-for-byte
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/merges.parquet"
        df.write.parquet(path)
        assert merges_from_table(spark.read.parquet(path)) == merges


def test_merges_table_rank_holes_rejected(spark):
    df = merges_table(spark, [(b"a", b"b"), (b"c", b"d")]).filter(F.col("rank") != 0)
    with pytest.raises(ValueError, match="ranks are not exactly"):
        merges_from_table(df)


# --------------------------------------------------------------- fail-loud


def test_word_type_cap_fails_loud(spark):
    docs = spark.createDataFrame([("a b c d e f g h",)], "text string")
    with pytest.raises(ValueError, match="max_word_types"):
        train_bpe(docs, num_merges=5, max_word_types=3)


def test_param_validation(spark):
    docs = spark.createDataFrame([("a b",)], "text string")
    with pytest.raises(ValueError, match="num_merges"):
        train_bpe(docs, num_merges=0)
    with pytest.raises(ValueError, match="min_pair_count"):
        train_bpe(docs, num_merges=1, min_pair_count=1)
    with pytest.raises(ValueError, match="max_word_bytes"):
        word_frequencies(docs, max_word_bytes=0)
    with pytest.raises(ValueError, match="non-positive count"):
        train_bpe_on_freqs([(b"ab", 0)], 1)


def test_early_stop_on_unrepeated_pairs():
    # every pair occurs once -> nothing reaches min_pair_count=2
    assert train_bpe_on_freqs([(b"abcd", 1), (b"efgh", 1)], 10) == []
