"""Trained quality classifier: hashed-feature averaged perceptron, exact.

The heuristic quality gates (``q_text_quality``, the Gopher rules) score
documents by fixed rules; production pipelines add a TRAINED text
classifier (GPT-3's LR quality filter, CCNet's fastText) that learns the
boundary from labeled examples. The standard stack — logistic regression
or fastText over hashed bag-of-words features — trains and scores in
float/log space, which this repo's exactness rules exclude from anything
oracle-visible (D10/D12: no libm). The AVERAGED PERCEPTRON (Freund &
Schapire 1999; Collins 2002) removes the problem at the root: with binary
presence features its training updates, its averaged weights (via the
lazy-counter trick, see below), and its decision margin are ALL integer
arithmetic — no quantization step, no platform-dependent rounding, and
the margin an engine computes is replayable bit-for-bit in SQL.

Feature map (identical on every side, pinned by tests):

* tokens: split on single space, drop empties — the corpus convention;
* bucket: the repo's cross-engine polynomial hash (base 31, mod 1e9+7,
  per-character ``ascii`` fold — the same fold ``q_text_fingerprint``
  ships in Spark AND DuckDB) reduced ``% dim``;
* a document's feature vector is its DISTINCT bucket set (binary
  presence — scale-free in document length, and it keeps every margin a
  bounded integer sum).

Training (driver-side, like every trained artifact here — k-means
centroids, PQ codebooks): collect a capped labeled sample (fail-loud cap;
sorted by id so the update order — which perceptron results depend on —
is a pure function of the data), run E epochs of the averaged perceptron
with the lazy average: keep ``(w, u, c)`` where ``u`` accumulates
``y·c_t`` at each update; the averaged weights SCALED BY the counter,
``w·c − u``, are exact integers, and scaling by a positive constant
changes no margin sign and no ranking — so the scaled average IS the
model. Overflow bound: with T total updates, |w| ≤ T, |u| ≤ T², margins
sum ≤ dim·T² — far inside int64 for the capped sample sizes enforced.

Inference is map-only with the bloom-module two-path discipline: a pure
Column expression over a literal weight array (whole-stage codegen;
refused above ``_MAX_EXPR_DIM`` buckets of plan size) and an
Arrow-vectorized pandas_udf with a per-batch token memo for real widths.

REGISTERED round 14 with the literal-weights convention finalized:
``q_quality_classify`` ships the TRAINED model as in-source literals
(:data:`CLS_W_NONZERO`/:data:`CLS_B` — the production deployment shape:
train offline, broadcast frozen weights) and is pure map-only inference
over the held-out ``doc_id % 5 == 0`` split, so its DuckDB oracle is one
static SQL string replaying the same literals. Training itself is
order-sensitive by definition and lives in the driver like k-means; its
correctness is pinned by an independent non-lazy mirror that recomputes
the true averaged weights explicitly, and the frozen literals' PROVENANCE
is pinned by ``tests/test_classifier.py::
test_frozen_model_retrain_provenance`` — a full retrain on the sf0.01
fixture train split must reproduce them bit-for-bit, so fixture or
feature-map drift fails loudly.
The label is text-derived (document contains the token ``join``) — NOT
the fixture's ``lang`` column, which is statistically independent of its
text (measured: training accuracy collapses to the class prior). The
train-at-query-time form survives as
:func:`q_quality_classify_trained` (unregistered).

Reference parity: no analogue in the reference tree — beyond-reference
pipeline surface (SURVEY §2-D).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .text import MOD  # the ONE cross-engine polynomial hash modulus

_MAX_EXPR_DIM = 1 << 12  # literal-array margin: 4096 int64 literals max
DEFAULT_DIM = 1 << 12
DEFAULT_EPOCHS = 5
DEFAULT_MAX_SAMPLES = 200_000  # keeps the T² overflow bound < 1e12 per bucket


# ------------------------------------------------------------- feature map


def bucket_py(token: str, dim: int) -> int:
    """Python mirror of the bucket expression — MUST equal
    :func:`bucket_col` on every string (pinned by test)."""
    h = 0
    for ch in token:
        h = (h * 31 + ord(ch)) % MOD
    return h % dim


def tokens_col(text: Column) -> Column:
    return F.filter(
        F.split(F.coalesce(text, F.lit("")), " "), lambda t: t != ""
    )


def bucket_col(token: Column, dim: int) -> Column:
    # TRIPWIRE: this per-character fold is the SAME polynomial hash as
    # text.q_text_fingerprint and dedup._rollhash (base 31, mod MOD) — the
    # three must stay byte-identical or the cross-engine hash guarantee
    # breaks; bucket_py and the SQL replay in sql_margin_replay mirror it.
    h = F.aggregate(
        F.transform(F.split(token, ""), lambda c: F.ascii(c).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * F.lit(31) + c) % F.lit(MOD),
    )
    return h % F.lit(dim)


def doc_buckets_col(text: Column, dim: int) -> Column:
    """The document's DISTINCT bucket set, sorted (deterministic order for
    the fold below; sorting an int array is cheap and local)."""
    return F.array_sort(
        F.array_distinct(
            F.transform(tokens_col(text), lambda t: bucket_col(t, dim))
        )
    )


def doc_buckets_py(text: str | None, dim: int) -> list[int]:
    toks = [t for t in (text or "").split(" ") if t != ""]
    return sorted({bucket_py(t, dim) for t in toks})


# ---------------------------------------------------------------- training


def train_perceptron(
    samples: list[tuple[list[int], int]],
    dim: int,
    epochs: int = DEFAULT_EPOCHS,
) -> dict:
    """Averaged perceptron over ``(bucket_list, label ±1)`` samples, in the
    given order (callers sort by a stable id first). Returns the scaled
    averaged model ``{"w": [int]*dim, "b": int, "dim": dim}`` — the true
    average times the final counter, exact integers, same signs and
    ranking as the average itself."""
    if dim < 1:
        raise ValueError("dim must be >= 1")
    if epochs < 1:
        raise ValueError("epochs must be >= 1")
    w = [0] * dim
    u = [0] * dim
    b = 0
    beta = 0
    c = 1
    for _ in range(epochs):
        for x, y in samples:
            if y not in (1, -1):
                raise ValueError(f"labels must be +1/-1, got {y!r}")
            margin = b + sum(w[i] for i in x)
            if y * margin <= 0:
                for i in x:
                    w[i] += y
                    u[i] += y * c
                b += y
                beta += y * c
            c += 1
    return {
        "w": [w[i] * c - u[i] for i in range(dim)],
        "b": b * c - beta,
        "dim": dim,
    }


def train_text_classifier(
    docs: DataFrame,
    label_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    dim: int = DEFAULT_DIM,
    epochs: int = DEFAULT_EPOCHS,
    max_samples: int = DEFAULT_MAX_SAMPLES,
) -> dict:
    """Collect the labeled sample (capped, fail-loud; ordered by ``id_col``
    so training is a pure function of the data), featurize with the same
    map inference uses, train. ``label_col`` must be boolean-like:
    truthy → +1."""
    rows = (
        docs.select(id_col, text_col, label_col)
        .orderBy(id_col)
        .limit(max_samples + 1)
        .collect()
    )
    if len(rows) > max_samples:
        raise ValueError(
            f"classifier: training sample exceeds max_samples={max_samples}; "
            "sample the input explicitly (a silent cap would train on an "
            "engine-chosen subset)"
        )
    if not rows:
        raise ValueError("classifier: no training rows")
    samples = []
    for r in rows:
        lab = r[label_col]
        if lab is None:
            # a NULL label is a labeling-data bug (join miss, un-cast
            # boolean) — coercing it to a class would train a quietly
            # skewed model; fail like every other invalid input here
            raise ValueError(
                f"classifier: NULL label for {id_col}={r[id_col]!r} — "
                "drop or fill unlabeled rows explicitly before training"
            )
        samples.append((doc_buckets_py(r[text_col], dim), 1 if lab else -1))
    return train_perceptron(samples, dim, epochs)


# --------------------------------------------------------------- inference


def margin_expr(text: Column, model: dict) -> Column:
    """Pure-Column margin: ``b + Σ_{bucket ∈ distinct(doc)} w[bucket]`` —
    exact int64, whole-stage codegen. Plan size scales with ``dim``;
    refused above ``_MAX_EXPR_DIM`` — use :func:`margin_pandas` beyond."""
    dim, w = model["dim"], model["w"]
    if dim > _MAX_EXPR_DIM:
        raise ValueError(
            f"dim {dim} too large for the literal-array margin "
            f"(cap {_MAX_EXPR_DIM}) — use margin_pandas"
        )
    # one-expr literal array: the former F.lit(..).cast("long") per weight
    # paid 2·dim py4j round trips per plan build (~1.3 s at dim=512, r16
    # measurement); `<w>L` BIGINT literal text folds to the same Literal
    # values, one driver call total
    arr = F.expr("array(" + ", ".join(f"{int(x)}L" for x in w) + ")")
    return F.aggregate(
        doc_buckets_col(text, dim),
        F.lit(int(model["b"])).cast("long"),
        lambda acc, bkt: acc + F.element_at(arr, (bkt + F.lit(1)).cast("int")),
    )


def margin_pandas(text: Column, model: dict) -> Column:
    """Arrow-vectorized margin for real widths: numpy weights in the
    closure (once per executor), per-batch token-bucket memo."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    dim = int(model["dim"])
    w = np.array(model["w"], dtype=np.int64)
    bias = int(model["b"])

    @pandas_udf("long")
    def margin(texts):
        memo: dict[str, int] = {}

        def one(t) -> int:
            buckets = set()
            for tok in (t or "").split(" "):
                if tok == "":
                    continue
                bkt = memo.get(tok)
                if bkt is None:
                    h = 0
                    for ch in tok:
                        h = (h * 31 + ord(ch)) % MOD
                    bkt = h % dim
                    memo[tok] = bkt
                buckets.add(bkt)
            return bias + int(w[list(buckets)].sum()) if buckets else bias

        return texts.map(one).astype("int64")

    return margin(text)


def classify(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "margin",
    use_expr: bool | None = None,
) -> DataFrame:
    """Append the integer decision margin (positive → positive class).
    Path picked by ``dim`` unless forced: expression under the plan-size
    cap, pandas beyond."""
    if use_expr is None:
        use_expr = model["dim"] <= _MAX_EXPR_DIM
    fn = margin_expr if use_expr else margin_pandas
    return docs.withColumn(out_col, fn(F.col(text_col), model))


# ----------------------------------------------------------- registered twin

CLS_DIM = 512
CLS_EPOCHS = 5
CLS_HOLDOUT_MOD = 5  # doc_id % 5 == 0 -> held out
CLS_TARGET_TOKEN = "join"

# The FROZEN model — the averaged-perceptron weights trained on the sf0.01
# fixture's train split (doc_id % 5 != 0, ordered by doc_id, dim=512,
# epochs=5, token-presence label CLS_TARGET_TOKEN). Sparse storage: only 31
# of 512 buckets are nonzero. Provenance is pinned by
# tests/test_classifier.py::test_frozen_model_retrain_provenance, which
# retrains from the fixture and asserts bit equality — so neither the
# fixture, the feature map, nor the trainer can drift without a loud test
# failure. Scaled-average convention: these are w·c − u (see module
# docstring), exact integers with the same signs and ranking as the true
# average.
CLS_B = -15254
CLS_W_NONZERO = {
    1: -2922, 56: -640, 92: 1338, 95: 2112, 97: -2533, 113: 353,
    124: 1975, 125: -1558, 127: 4381, 200: 1441, 221: 1549, 256: -187,
    257: -2375, 263: -3753, 270: -988, 298: 40553, 302: 2493, 314: 2025,
    328: -1110, 334: 770, 355: -105, 363: -3775, 369: -1299, 414: 2725,
    426: -2230, 462: -4043, 474: 2024, 475: 1746, 499: 284, 500: -752,
    511: -2307,
}


def frozen_model() -> dict:
    """The frozen classifier expanded to the dense ``{"w", "b", "dim"}``
    form every inference path takes."""
    w = [0] * CLS_DIM
    for i, v in CLS_W_NONZERO.items():
        w[i] = v
    return {"w": w, "b": CLS_B, "dim": CLS_DIM}


def _label_col() -> Column:
    return F.array_contains(tokens_col(F.col("text")), CLS_TARGET_TOKEN).cast(
        "int"
    )


def q_quality_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REGISTERED: exact integer margin for every HELD-OUT document
    (``doc_id % 5 == 0``) under the FROZEN literal-weights model:
    ``(doc_id, label, margin, pred)``.

    Inference-only by design — the production deployment shape is train
    offline, ship the weights, score the corpus map-side; freezing the
    trained literals in-source is what makes the DuckDB oracle a static
    SQL string (the registration contract). Training correctness is
    pinned separately: the non-lazy mirror proves the lazy average, and
    the retrain-provenance test proves these literals ARE the sf0.01
    fixture's trained model. Held-out accuracy (≥0.9, beats majority) is
    asserted in tests — the weights really recovered the token rule. In
    production the labels are human/LLM quality ratings; the machinery is
    identical."""
    from ..io import table

    held = (
        table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % CLS_HOLDOUT_MOD == 0)
        .withColumn("label", _label_col())
    )
    return classify(held, frozen_model()).select(
        "doc_id",
        "label",
        "margin",
        (F.col("margin") > 0).cast("int").alias("pred"),
    )


def q_quality_classify_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The train-at-query-time form (unregistered): fit on the parity
    split of ``sf_dir`` itself, then score its held-out documents. Same
    output shape as :func:`q_quality_classify`; used where the corpus at
    hand IS the training set (and by the provenance tests)."""
    from ..io import table

    d = table(spark, sf_dir, "documents").withColumn("label", _label_col())
    train = d.where(F.col("doc_id") % CLS_HOLDOUT_MOD != 0)
    held = d.where(F.col("doc_id") % CLS_HOLDOUT_MOD == 0)
    model = train_text_classifier(train, "label", dim=CLS_DIM, epochs=CLS_EPOCHS)
    return classify(held, model).select(
        "doc_id",
        "label",
        "margin",
        (F.col("margin") > 0).cast("int").alias("pred"),
    )


SQL_CLS_LABEL = (
    "CAST(list_contains(list_filter(string_split(COALESCE(text, ''), ' '), "
    f"t -> t <> ''), '{CLS_TARGET_TOKEN}') AS INT)"
)


def sql_margin_replay(
    model: dict, where: str, label_sql: str = SQL_CLS_LABEL
) -> str:
    """DuckDB SQL computing the SAME margins over ``documents`` with the
    trained weights inlined — the test-time oracle for :func:`classify`."""
    w_list = ", ".join(str(int(x)) for x in model["w"])
    return f"""
WITH docs AS (
    SELECT doc_id, {label_sql} AS label,
           list_sort(list_distinct(list_transform(
               list_filter(string_split(COALESCE(text, ''), ' '), t -> t <> ''),
               t -> list_reduce(
                        list_prepend(CAST(0 AS BIGINT),
                            list_transform(string_split(t, ''),
                                           c -> CAST(ascii(c) AS BIGINT))),
                        (acc, c) -> (acc * 31 + c) % {MOD}
                    ) % {model["dim"]}
           ))) AS buckets
    FROM documents WHERE {where}
),
wts AS (SELECT [{w_list}] AS w),
-- list_sum of an empty list is NULL in DuckDB; Spark's aggregate returns
-- the init (the bias) — COALESCE keeps the empty-document margins equal
scored AS (
    SELECT doc_id, label,
           CAST({int(model["b"])}
                + COALESCE(list_sum(list_transform(buckets, b -> w[b + 1])), 0)
             AS BIGINT) AS margin
    FROM docs, wts
)
SELECT doc_id, label, margin, CAST(margin > 0 AS INT) AS pred FROM scored
"""


ORACLE_QUALITY_CLASSIFY = sql_margin_replay(
    frozen_model(), f"doc_id % {CLS_HOLDOUT_MOD} = 0"
)

QUERIES = {"q_quality_classify": q_quality_classify}
ORACLES = {"q_quality_classify": ORACLE_QUALITY_CLASSIFY}
