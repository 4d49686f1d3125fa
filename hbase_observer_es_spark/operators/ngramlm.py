"""Count-based bigram language-model surprisal — the CCNet-style
perplexity filter, integer-exact end to end.

The classic web-curation stage this family still lacked: train a small
LM on a clean reference corpus, score every candidate document's
fluency, and gate or bucket on the score (CCNet's head/middle/tail
split; Gopher and friends gate the same way). The floating-point
perplexity of the published pipelines is replaced by a FIXED-POINT
SURPRISAL in 1/2^16 bits — same ordering, same gates, but bit-stable
on every host and hashable by the oracle harness, per the repo's D10
no-libm discipline.

Model: word bigrams with add-one (Laplace) smoothing over the
whitespace token convention (``classifier.tokens_col`` — one shared
tokenizer across classifier/BPE/LM)::

    p(w2 | w1) = (c(w1 w2) + 1) / (c(w1) + V)
    surprisal(w2 | w1) = log2(c(w1) + V) - log2(c(w1 w2) + 1)

Both logs are :func:`ilog2_fp` — integer log2 scaled by ``2^16``,
computed by the classic mantissa-squaring loop with a documented
truncating 32-bit mantissa, so the model carries PRECOMPUTED integer
surprisal parts and scoring never takes a log at all.

Scale posture (the whole point of the decomposition): the reference
corpus is small by construction (CCNet trains on Wikipedia, not the
crawl), so the model broadcasts; scoring a 100 TB candidate corpus is
one map-only bigram explode + two BROADCAST hash joins + one
aggregation — no Python in the hot path, no shuffle besides the final
per-doc groupBy. Training is one explode + groupBy with map-side
combine, capped by a loud ``max_entries`` guard (a model too big to
broadcast should be re-scoped, not silently spilled).

Reference parity: none — builder-brief LLM-pipeline surface (SURVEY
§2-D); ``q_lm_surprisal`` is the registered, oracle-checked query.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .classifier import tokens_col

FRAC_BITS = 16
_MANTISSA_BITS = 32


def ilog2_fp(x: int, frac_bits: int = FRAC_BITS) -> int:
    """Integer log2 of a positive integer, scaled by ``2^frac_bits``.

    Exact for powers of two; otherwise the classic square-the-mantissa
    digit recurrence with the mantissa held at 32 fractional bits and
    TRUNCATED after each squaring — a deterministic, platform-free
    definition (the contract is bit-stability and monotonicity, not
    last-ulp agreement with libm)."""
    if x < 1:
        raise ValueError(f"ilog2_fp: x must be >= 1, got {x}")
    e = x.bit_length() - 1
    m = (x << _MANTISSA_BITS) >> e  # mantissa in [1, 2), scale 2^32
    frac = 0
    for _ in range(frac_bits):
        m = (m * m) >> _MANTISSA_BITS
        frac <<= 1
        if m >> (_MANTISSA_BITS + 1):  # mantissa reached [2, 4)
            frac |= 1
            m >>= 1
    return (e << frac_bits) | frac


@dataclass
class BigramLM:
    """Trained model: precomputed fixed-point surprisal PARTS.
    ``lg_den[w1] = ilog2_fp(c(w1) + V)`` (the smoothed denominator;
    ``default_den = ilog2_fp(V)`` for unseen contexts) and
    ``lg_num["w1 w2"] = ilog2_fp(c + 1)`` (0 for unseen bigrams —
    log2(0 + 1))."""

    lg_den: dict
    lg_num: dict
    default_den: int
    vocab_size: int
    frac_bits: int = FRAC_BITS


def _bigrams_col(text):
    toks = tokens_col(text)
    n = F.size(toks)
    return F.when(n >= 2, F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )).otherwise(F.array().cast("array<string>"))


def train_bigram_lm(
    ref: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    max_entries: int = 2_000_000,
) -> BigramLM:
    """Fit the smoothed bigram model on a REFERENCE corpus (small by
    construction — it rides a broadcast at scoring time). One explode +
    map-side-combined groupBy per grain; ``max_entries`` is a loud
    model-size guard, not a silent truncation."""
    text = F.col(text_col)
    uni = (
        ref.select(F.explode(tokens_col(text)).alias("w"))
        .groupBy("w").count()
    )
    bi = (
        ref.select(F.explode(_bigrams_col(text)).alias("bg"))
        .groupBy("bg").count()
        .where(F.col("count") >= min_count)
    )
    uni_rows = uni.collect()
    vocab = len(uni_rows)
    if vocab == 0:
        raise ValueError("ngramlm: reference corpus has no tokens")
    bi_rows = bi.collect()
    if vocab + len(bi_rows) > max_entries:
        raise ValueError(
            f"ngramlm: model has {vocab} + {len(bi_rows)} entries — over "
            f"the {max_entries} broadcast guard; shrink the reference "
            "corpus or raise max_entries deliberately"
        )
    lg_den = {r["w"]: ilog2_fp(r["count"] + vocab) for r in uni_rows}
    lg_num = {r["bg"]: ilog2_fp(r["count"] + 1) for r in bi_rows}
    return BigramLM(lg_den, lg_num, ilog2_fp(vocab), vocab)


def surprisal_py(tokens: list, model: BigramLM) -> tuple:
    """Driver/test-side twin: (n_bigrams, total_fp) for one token list —
    the definitional form the Spark plan must match bit-for-bit."""
    total = 0
    n = 0
    for w1, w2 in zip(tokens, tokens[1:]):
        den = model.lg_den.get(w1, model.default_den)
        num = model.lg_num.get(f"{w1} {w2}", 0)
        total += den - num
        n += 1
    return n, total


def q_lm_surprisal(spark, sf_dir: str) -> DataFrame:
    """REGISTERED (round 14): the COARSE
    integer-bits surprisal, chosen because ``floor(log2 x)`` is exactly
    ``length(bin(x)) - 1`` in BOTH engines — so training (reference
    slice ``doc_id % 10 == 0``) AND scoring replay as one DuckDB SQL
    statement (:data:`ORACLE_LM_SURPRISAL`) with no fixed-point model
    export. The production scorer stays :func:`surprisal_frame`
    (frac_bits=16); this twin is the oracle-checkable projection of the
    same plan shape: bigram explode → two broadcast joins → one
    aggregation, all Catalyst.

    Building the frame runs ONE eager Spark job: ``uni.count()`` fetches
    the vocabulary size ``v`` as a driver scalar so it enters the plan as
    a literal (see the comment at that call)."""
    from ..io import table

    # fan_out A/B'd AMBIGUOUS here (r17: phase-split said faster, two gate
    # A/Bs and a full bench said flat-to-slower) — the four branches
    # (ref/uni/bi/ex) each re-pay the spread shuffle with no exchange reuse
    # on this Spark build, cancelling the parallel tokenize. Left unspread.
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    text = F.col("text")
    ref = docs.where(F.col("doc_id") % 10 == 0)
    uni = (
        ref.select(F.explode(tokens_col(text)).alias("w1"))
        .groupBy("w1").agg(F.count("*").alias("c1"))
    )
    bi = (
        ref.select(F.explode(_bigrams_col(text)).alias("bg"))
        .groupBy("bg").agg(F.count("*").alias("c12"))
    )
    ex = docs.select(
        "doc_id", F.explode(_bigrams_col(text)).alias("bg")
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    bits = lambda c: F.length(F.bin(c)) - 1  # floor(log2 x), exactly
    # The vocab size v = COUNT(*) FROM uni is fetched as a driver-side
    # SCALAR, the same posture as train_bigram_lm (the model's parameters
    # are driver-resident by design; uni is vocab-sized, never corpus-
    # sized). v = |uni| by definition, so the r14 ADVICE undercount (a uni
    # word that never opens a bigram — document-final-only tokens — must
    # still count toward v; reproduced in tests/test_ngramlm.py) cannot
    # occur. This replaced the r14-r16 per-w1 denominator-lookup frame
    # (corpus-w1 ∪ vocab, left-join back to uni, global window counting
    # matches): same v, but that shape re-computed the corpus bigram
    # explode AND uni a second time and paid a distinct + window + third
    # broadcast for it (r17 interleaved A/B: 3.38 -> 3.04 s median, and
    # the 1-row-join BroadcastNestedLoopJoin the lookup existed to avoid
    # stays avoided — v is a literal, not a joined column).
    v = uni.count()
    j = (
        ex.join(F.broadcast(uni), "w1", "left")
        .join(F.broadcast(bi), "bg", "left")
        .select(
            "doc_id",
            (
                bits(F.coalesce(F.col("c1"), F.lit(0)) + F.lit(v))
                - bits(F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1))
            ).cast("long").alias("s"),
        )
    )
    agg = j.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"), F.sum("s").alias("surprisal_bits")
    )
    return (
        docs.select("doc_id")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            F.coalesce("surprisal_bits", F.lit(0)).cast("long")
            .alias("surprisal_bits"),
        )
    )


ORACLE_LM_SURPRISAL = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split(coalesce(text, ''), ' '), x -> x <> '')
           AS t
  FROM documents
),
bgs AS (
  SELECT doc_id,
         list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) AS b
  FROM toks
),
uni AS (
  SELECT w1, COUNT(*) AS c1
  FROM (SELECT unnest(t) AS w1 FROM toks WHERE doc_id % 10 = 0)
  GROUP BY w1
),
v AS (SELECT COUNT(*) AS v FROM uni),
bi AS (
  SELECT bg, COUNT(*) AS c12
  FROM (SELECT unnest(b) AS bg FROM bgs WHERE doc_id % 10 = 0)
  GROUP BY bg
),
ex AS (SELECT doc_id, unnest(b) AS bg FROM bgs),
j AS (
  SELECT ex.doc_id,
         (length(bin(coalesce(uni.c1, 0) + v.v)) - 1)
         - (length(bin(coalesce(bi.c12, 0) + 1)) - 1) AS s
  FROM ex
  CROSS JOIN v
  LEFT JOIN uni ON split_part(ex.bg, ' ', 1) = uni.w1
  LEFT JOIN bi ON ex.bg = bi.bg
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(s) AS surprisal_bits
  FROM j GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(a.surprisal_bits, 0) AS BIGINT) AS surprisal_bits
FROM documents d
LEFT JOIN agg a USING (doc_id)
"""


QUERIES = {"q_lm_surprisal": q_lm_surprisal}
ORACLES = {"q_lm_surprisal": ORACLE_LM_SURPRISAL}


def surprisal_frame(
    df: DataFrame,
    model: BigramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document fixed-point surprisal: ``(id, n_bigrams,
    surprisal_fp, mean_surprisal_fp)``. Inference is pure Catalyst —
    bigram explode, two broadcast joins against the precomputed model
    parts, one aggregation; documents with fewer than two tokens score
    (0, 0, 0). ``mean_surprisal_fp`` is the truncating integer mean."""
    spark = df.sparkSession
    uni_df = spark.createDataFrame(
        [(w, v) for w, v in model.lg_den.items()], "w1 string, lg_den long"
    )
    bi_df = spark.createDataFrame(
        [(b, v) for b, v in model.lg_num.items()], "bg string, lg_num long"
    )
    exploded = df.select(
        F.col(id_col), F.explode(_bigrams_col(F.col(text_col))).alias("bg")
    ).withColumn("w1", F.split(F.col("bg"), " ")[0])
    scored = (
        exploded
        .join(F.broadcast(uni_df), "w1", "left")
        .join(F.broadcast(bi_df), "bg", "left")
        .select(
            id_col,
            (
                F.coalesce(F.col("lg_den"), F.lit(model.default_den))
                - F.coalesce(F.col("lg_num"), F.lit(0))
            ).alias("s"),
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum("s").alias("surprisal_fp"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("surprisal_fp", F.lit(0)).alias("surprisal_fp"),
            F.when(
                F.col("n_bigrams").isNotNull(),
                # integral DIV, not float /: the mean must stay exact
                # (truncating) however large the fixed-point sum grows
                F.expr("surprisal_fp DIV n_bigrams"),
            ).otherwise(F.lit(0)).alias("mean_surprisal_fp"),
        )
    )
