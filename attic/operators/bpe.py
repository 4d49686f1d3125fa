"""Byte-level BPE subword tokenizer: distributed train, map-only apply.

The corpus pipeline counts tokens with a whitespace model and a BPE-ish
regex (``q_text_tokcount``), but a real training-data pipeline needs the
actual artifact those proxies approximate: a trained byte-pair-encoding
vocabulary, because (a) mixture weights and pack budgets are specified in
REAL tokenizer tokens, and (b) the tokenizer itself is trained on the
corpus the pipeline produces. This module implements the classic BPE
trainer (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units") at byte level (initial alphabet = the 256 byte
values, as GPT-2's tokenizer fixed it), with the training corpus reduced
Spark-side and the merge loop on the driver.

Scale shape — the part that matters at 100 TB:

* **One corpus-scale shuffle, total.** BPE training never needs the
  corpus; it needs the WORD-FREQUENCY table (word → count), which is what
  the one ``groupBy(word).count()`` pass produces with map-side partial
  aggregation. Word types grow sub-linearly with corpus size (Heaps' law):
  a 100 TB web corpus has on the order of 10^7–10^8 word types after the
  byte-length cap below, and the trainer only ever touches that table.
* **Bounded driver.** The word table is collected under an explicit cap
  (``max_word_types``, fail-loud when exceeded). A raw web-scale table has
  10^7–10^8 word types — over the default 2^20 cap by design: the fix is
  the ``min_word_count`` frequency floor (applied Spark-side, BEFORE
  collect), not a bigger collect. The tail words a floor drops are typos
  and junk whose pair-count contribution is statistically nil, which is
  why every production BPE trainer has the same knob; silently TRUNCATING
  the table would instead train a different tokenizer, hence the loud cap.
  The merge loop is the standard incremental-index algorithm: pair counts
  plus a pair→words inverted index updated only for words containing the
  merged pair, and a lazy-invalidation max-heap for best-pair selection —
  O(affected symbols · log pairs) per merge, no full scans.
* **Map-only apply.** Encoding broadcasts the merge ranks inside a
  pandas_udf closure (≤ a few hundred KiB for a 32k-merge vocabulary) and
  runs per-word greedy lowest-rank merging with a per-batch word memo —
  web text repeats words heavily, so most lookups are dict hits, and no
  shuffle ever happens.

Determinism (rerun- and partitioning-stable, pinned by tests):

* Pre-tokenization splits on the EXPLICIT ASCII whitespace class
  ``[ \\t\\n\\r\\f\\x0B]`` in both the Spark trainer and the Python
  encoder. Java's ``\\s`` is exactly that class, but Python's ``\\s`` is
  Unicode-aware (it would eat U+00A0 and friends) — spelling the class out
  is what keeps the two sides byte-identical. Unicode spaces are word
  bytes on both sides.
* Merge ties (equal pair count) break on the lexicographically smallest
  ``(left, right)`` byte pair — a pure function of the frequency table, so
  training is invariant under input partitioning and row order.
* Words longer than ``max_word_bytes`` are EXCLUDED from training (a
  megabyte "word" is binary junk, not vocabulary, and would dominate the
  driver's symbol budget); the encoder slices such words into
  ``max_word_bytes`` windows before encoding so pathological inputs stay
  O(cap²) per slice instead of O(len²) — token boundaries shift only at
  slice seams, documented and tested.

Word boundaries are hard: merges never cross whitespace, and no
end-of-word marker is used (the GPT-2 convention, minus its byte-to-
unicode remapping — we keep raw bytes). Tokens therefore reconstruct the
pre-token sequence exactly (``b"".join(tokens) == word``, pinned by a
property test), while inter-word whitespace is normalized out — the
contract a token COUNTER and vocabulary inducer needs; a generative
detokenizer would add the marker at the pre-tokenizer instead.

Not registry-checked by design: applying trained merges is not expressible
in SQL (the greedy rank loop is inherently iterative), so there is no
DuckDB oracle twin. Instead the tests pin the trainer against an
INDEPENDENT naive mirror (full recount per merge) and the encoder against
a sequential-by-rank mirror — two different algorithms that provably agree
with the incremental/greedy forms — plus hand-computed goldens, the same
bit-exact-model discipline as ``operators/pq.py``.
"""

from __future__ import annotations

from typing import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The ONE whitespace class both sides split on (Java \s == exactly this;
# Python \s would be Unicode-wide — never use bare \s here).
WS_CLASS = "[ \\t\\n\\r\\f\\x0B]"
_WS_REGEX = WS_CLASS + "+"

DEFAULT_MAX_WORD_TYPES = 1 << 20  # 1M distinct words collected at most
DEFAULT_MAX_WORD_BYTES = 256  # longer "words" are junk, not vocabulary


# --------------------------------------------------------------------- train


def word_frequencies(
    docs: DataFrame,
    text_col: str = "text",
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
    min_word_count: int = 1,
) -> DataFrame:
    """The corpus reduction BPE trains on: ``(word, count)``, one shuffle with
    map-side combine. NULL text contributes nothing; empty split fragments
    (leading/trailing whitespace) are dropped; words over ``max_word_bytes``
    UTF-8 bytes are excluded; words seen fewer than ``min_word_count`` times
    are dropped AFTER counting (the web-scale knob — see module docstring)."""
    if max_word_bytes < 1:
        raise ValueError("max_word_bytes must be >= 1")
    if min_word_count < 1:
        raise ValueError("min_word_count must be >= 1")
    wf = (
        docs.select(
            F.explode(F.split(F.coalesce(F.col(text_col), F.lit("")), _WS_REGEX)).alias(
                "word"
            )
        )
        .filter((F.length("word") > 0) & (F.octet_length("word") <= max_word_bytes))
        .groupBy("word")
        .count()
    )
    if min_word_count > 1:
        wf = wf.filter(F.col("count") >= min_word_count)
    return wf


def _collect_word_freqs(
    word_counts: DataFrame, max_word_types: int
) -> list[tuple[bytes, int]]:
    rows = word_counts.limit(max_word_types + 1).collect()
    if len(rows) > max_word_types:
        raise ValueError(
            f"bpe: word-type count exceeds max_word_types={max_word_types}; "
            "raise min_word_count (the Spark-side frequency floor — tail "
            "words are junk with nil pair-count weight) or, knowingly, the "
            "cap (a silently truncated table trains a different tokenizer)"
        )
    return [(r["word"].encode("utf-8"), int(r["count"])) for r in rows]


def train_bpe(
    docs: DataFrame,
    num_merges: int,
    text_col: str = "text",
    max_word_types: int = DEFAULT_MAX_WORD_TYPES,
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
    min_pair_count: int = 2,
    min_word_count: int = 1,
) -> list[tuple[bytes, bytes]]:
    """Train ``num_merges`` byte-pair merges on the corpus; returns the merge
    list in rank order (rank = list index). Stops early when the best
    remaining pair occurs fewer than ``min_pair_count`` times (merging a
    singleton pair memorizes one word, it does not compress a corpus).
    At web scale set ``min_word_count`` > 1 to keep the collected word
    table under ``max_word_types`` (see module docstring)."""
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_pair_count < 2:
        raise ValueError("min_pair_count must be >= 2")
    freqs = _collect_word_freqs(
        word_frequencies(docs, text_col, max_word_bytes, min_word_count),
        max_word_types,
    )
    return train_bpe_on_freqs(freqs, num_merges, min_pair_count)


def _merge_pair(syms: list[bytes], a: bytes, b: bytes) -> list[bytes]:
    """Replace every (a, b) adjacency with a+b, left-to-right, in one pass —
    the ONE replacement rule. Trainer and encoder both call this, so
    train-then-encode reproducing the trainer's segmentation holds by
    construction (the test mirrors keep independent copies by design)."""
    merged = a + b
    out: list[bytes] = []
    j = 0
    while j < len(syms):
        if j + 1 < len(syms) and syms[j] == a and syms[j + 1] == b:
            out.append(merged)
            j += 2
        else:
            out.append(syms[j])
            j += 1
    return out


def train_bpe_on_freqs(
    freqs: Iterable[tuple[bytes, int]],
    num_merges: int,
    min_pair_count: int = 2,
) -> list[tuple[bytes, bytes]]:
    """Driver-side merge loop over a ``(word_bytes, count)`` table — the
    standard incremental algorithm: pair counts plus a pair→word inverted
    index, re-derived only for the words that contained the merged pair,
    with best-pair selection from a lazy-invalidation max-heap (entries
    whose stored count no longer matches the live count are discarded on
    pop; every count change pushes a fresh entry, so the live maximum is
    always present). Deterministic: ties on count break on the
    lexicographically smallest (left, right) pair — the heap key."""
    import heapq

    # words[i] = list of byte-string symbols; counts[i] = word frequency
    words: list[list[bytes]] = []
    counts: list[int] = []
    for w, c in freqs:
        if c < 1:
            raise ValueError(f"bpe: non-positive count {c!r} for word {w!r}")
        words.append([w[i : i + 1] for i in range(len(w))])
        counts.append(c)

    pair_counts: dict[tuple[bytes, bytes], int] = {}
    pair_words: dict[tuple[bytes, bytes], set[int]] = {}
    for i, syms in enumerate(words):
        c = counts[i]
        for a, b in zip(syms, syms[1:]):
            pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
            pair_words.setdefault((a, b), set()).add(i)

    heap = [(-c, p) for p, c in pair_counts.items()]
    heapq.heapify(heap)

    merges: list[tuple[bytes, bytes]] = []
    for _ in range(num_merges):
        best: tuple[bytes, bytes] | None = None
        while heap:
            negc, p = heap[0]
            if pair_counts.get(p) != -negc:
                heapq.heappop(heap)  # stale: count changed or pair gone
                continue
            if -negc >= min_pair_count:
                best = p
            break  # live maximum found (above or below the floor)
        if best is None:
            break
        merges.append(best)
        touched: set[tuple[bytes, bytes]] = set()
        # re-derive pair contributions for every word that contained `best`
        for i in sorted(pair_words.get(best, ())):
            syms = words[i]
            c = counts[i]
            # retract this word's old pair contributions
            for a, b in zip(syms, syms[1:]):
                p = (a, b)
                pair_counts[p] -= c
                touched.add(p)
                if pair_counts[p] <= 0:
                    del pair_counts[p]
                ws = pair_words.get(p)
                if ws is not None:
                    ws.discard(i)
                    if not ws:
                        del pair_words[p]
            out = _merge_pair(syms, best[0], best[1])
            words[i] = out
            # add back the new contributions
            for a, b in zip(out, out[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + c
                touched.add((a, b))
                pair_words.setdefault((a, b), set()).add(i)
        for p in touched:
            c = pair_counts.get(p)
            if c is not None:
                heapq.heappush(heap, (-c, p))
    return merges


# --------------------------------------------------------------------- vocab


def vocab_from_merges(merges: list[tuple[bytes, bytes]]) -> dict[bytes, int]:
    """Token → id. Ids 0–255 are the single bytes; merge at rank r mints token
    ``left + right`` with id ``256 + r`` (first mint wins if two merge
    paths produce the same byte string — they can't under a consistent
    merge list, but the guard keeps ids stable regardless)."""
    vocab: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    for r, (a, b) in enumerate(merges):
        vocab.setdefault(a + b, 256 + r)
    return vocab


def tokenizer_stats(
    docs: DataFrame,
    merges: list[tuple[bytes, bytes]],
    group_col: str = "lang",
    text_col: str = "text",
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
) -> DataFrame:
    """Tokenizer fertility evaluation per slice: ``(group, n_docs, n_bytes,
    n_tokens)`` — ``n_bytes / n_tokens`` (the caller's one division) is the
    compression rate that decides vocab size and exposes under-served
    slices in a multilingual tokenizer (a slice the merges never saw
    tokenizes near 1 byte/token; well-covered English lands ~3–4). All
    emitted columns are exact integers: UTF-8 byte counts JVM-side
    (``octet_length``), token counts via :func:`add_bpe_token_count`
    (the ONE counter wiring — no second UDF to drift), one
    map-side-combined aggregation."""
    counted = add_bpe_token_count(
        docs, merges, text_col, "__n_tok", max_word_bytes
    )
    return (
        counted.groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.octet_length(F.coalesce(F.col(text_col), F.lit("")))
            ).cast("bigint").alias("n_bytes"),
            F.sum("__n_tok").cast("bigint").alias("n_tokens"),
        )
    )


def merges_table(spark: SparkSession, merges: list[tuple[bytes, bytes]]) -> DataFrame:
    """The persistable artifact form: ``(rank, left, right)`` with the pair
    halves as binary columns — write it with ``df.write.parquet`` next to
    the dataset it tokenizes, reload with :func:`merges_from_table`."""
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField("left", T.BinaryType(), False),
            T.StructField("right", T.BinaryType(), False),
        ]
    )
    rows = [(r, bytearray(a), bytearray(b)) for r, (a, b) in enumerate(merges)]
    return spark.createDataFrame(rows, schema)


def merges_from_table(df: DataFrame) -> list[tuple[bytes, bytes]]:
    """Inverse of :func:`merges_table`; validates the rank sequence is exactly
    0..n-1 (a merge list with holes or duplicates encodes NOTHING — the
    greedy encoder's priorities would be silently wrong)."""
    rows = df.select("rank", "left", "right").collect()
    rows.sort(key=lambda r: r["rank"])
    ranks = [int(r["rank"]) for r in rows]
    if ranks != list(range(len(rows))):
        raise ValueError(f"bpe: merge table ranks are not exactly 0..n-1: {ranks[:10]}")
    return [(bytes(r["left"]), bytes(r["right"])) for r in rows]


# -------------------------------------------------------------------- encode


def encode_word(
    word: bytes, ranks: dict[tuple[bytes, bytes], int]
) -> list[bytes]:
    """Greedy BPE over ONE word: repeatedly merge the adjacent pair with the
    lowest rank until none applies. Equivalent to replaying the merges in
    rank order (the mirror the tests pin against)."""
    syms = [word[i : i + 1] for i in range(len(word))]
    while len(syms) > 1:
        best_rank = None
        best_j = -1
        for j in range(len(syms) - 1):
            r = ranks.get((syms[j], syms[j + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_j = r, j
        if best_rank is None:
            break
        # merge EVERY occurrence of this exact pair via the shared
        # replacement rule (_merge_pair), so train-then-encode the training
        # corpus reproduces the trainer's final segmentation
        syms = _merge_pair(syms, syms[best_j], syms[best_j + 1])
    return syms


def _piece_splitter(max_word_bytes: int):
    """The ONE pre-tokenize + overlong-slice rule every encode/count path
    shares: ``text -> iterator of word byte-slices``. Validates eagerly so
    consumers fail at the driver, not mid-job on an executor."""
    import re

    if max_word_bytes < 1:
        raise ValueError("max_word_bytes must be >= 1")
    ws = re.compile(_WS_REGEX)

    def pieces(text: str | None):
        for word in ws.split(text or ""):
            if not word:
                continue
            wb = word.encode("utf-8")
            for s in range(0, len(wb), max_word_bytes):
                yield wb[s : s + max_word_bytes]

    return pieces


def make_encoder(
    merges: list[tuple[bytes, bytes]],
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
):
    """Build ONE memoized ``text -> [token ids]`` encoder (ranks/vocab
    resolved once; per-word-slice id memo — web text repeats words, so the
    common case is a dict hit). Shared by :func:`encode_text` and
    ``attic/operators/seqpack.py``; counting-only consumers use
    :func:`make_counter`, which never materializes id lists."""
    pieces = _piece_splitter(max_word_bytes)
    ranks = {p: r for r, p in enumerate(merges)}
    vocab = vocab_from_merges(merges)
    memo: dict[bytes, list[int]] = {}

    def encode(text: str | None) -> list[int]:
        ids: list[int] = []
        for piece in pieces(text):
            got = memo.get(piece)
            if got is None:
                got = [vocab[t] for t in encode_word(piece, ranks)]
                memo[piece] = got
            ids.extend(got)
        return ids

    return encode


def make_counter(
    merges: list[tuple[bytes, bytes]],
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
):
    """Memoized ``text -> token count`` — the count twin of
    :func:`make_encoder` over the same piece rule, holding only int counts
    (no id lists, no vocab): a 1M-token document costs one integer, not a
    1M-element list."""
    pieces = _piece_splitter(max_word_bytes)
    ranks = {p: r for r, p in enumerate(merges)}
    memo: dict[bytes, int] = {}

    def count(text: str | None) -> int:
        n = 0
        for piece in pieces(text):
            c = memo.get(piece)
            if c is None:
                c = len(encode_word(piece, ranks))
                memo[piece] = c
            n += c
        return n

    return count


def encode_text(
    text: str,
    merges: list[tuple[bytes, bytes]],
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
) -> list[int]:
    """Driver-side encode of one string to token ids (tests, probes, small
    jobs — the distributed path is :func:`add_bpe_token_count`)."""
    return make_encoder(merges, max_word_bytes)(text)


def add_bpe_token_count(
    docs: DataFrame,
    merges: list[tuple[bytes, bytes]],
    text_col: str = "text",
    out_col: str = "n_bpe_tokens",
    max_word_bytes: int = DEFAULT_MAX_WORD_BYTES,
) -> DataFrame:
    """Append the trained-tokenizer token count — the number every pack
    budget and mixture weight is actually specified in. Map-only: the
    counter (ranks dict + int-count memo, never id lists) is built at the
    driver — eager validation, one pickle — and ships in the pandas_udf
    closure. NULL text counts 0."""
    count = make_counter(merges, max_word_bytes)

    @F.pandas_udf("bigint")
    def n_tokens(texts: pd.Series) -> pd.Series:
        return texts.map(count).astype("int64")

    return docs.withColumn(out_col, n_tokens(F.col(text_col)))
