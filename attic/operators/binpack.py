"""Whole-document bin packing: best-fit-decreasing into fixed token bins.

The concat-and-split packers (``q_text_pack``, ``attic/operators/seqpack.py``)
cut documents across sequence boundaries — right for pretraining, wrong
for the corpora where an example must stay WHOLE: SFT/instruction sets,
long-context eval suites, retrieval chunk stores. There the job is classic
bin packing — place each document, intact, into fixed-capacity bins,
minimizing bins (equivalently, padding waste, which is training cost).
Optimal packing is NP-hard; BEST-FIT-DECREASING is the standard
guarantee-carrying heuristic (≤ 11/9·OPT + 6/9 bins, Johnson's bound) and
is what this module implements, with NEXT-FIT in id order — what a single
streaming pass over id-sorted storage produces — as the cheap baseline
twin so the improvement is measurable, not asserted.

Determinism (pinned by tests): documents order by ``(n_tokens desc,
id asc)`` for BFD (ties broken by id); a document goes to the FULLEST bin
it fits (ties → lowest bin id); bin ids are dense per shard in creation
order; ``pack_offset`` is the running token offset in placement order.
The result is a pure function of the data — partitioning-invariant,
rerun-stable.

Scale shape: the same one-exchange ``applyInPandas`` shape as
``seqpack`` — shard by an existing column or an id hash, pack each shard
independently in its task (the per-task memory knob is the shard size).
Placement does O(n log n) COMPARISONS via bisect over a sorted
remaining-capacity index, but each insertion shifts a Python list — in
the adversarial worst case of ~n open bins that is O(n²) element moves
per shard, so size shards to ~10^5 documents (the same knob as memory);
a balanced tree drops it to true O(n log n) if a deployment needs
million-bin shards. No global sort anywhere. The default global
id-uniqueness guard costs one extra exchange on the id — disable it
(``check_unique_ids=False``) only when ids are unique by construction.

Fail-loud: a document larger than the capacity cannot be packed whole —
error, never a silent oversized bin (the downstream loader would truncate
it silently instead); duplicate ids error GLOBALLY by default (in
``shard_col`` mode a duplicate id can land in two shards and be packed
twice invisibly — the default window guard catches exactly that; in
``n_shards`` mode equal ids always co-shard and the in-task check alone
suffices); NULL ids error; a negative or NULL precomputed token count
errors.

Not registered by design: the placement loop is iterative (no SQL
oracle); the tests pin an independent naive mirror, the capacity/
exactly-once invariants, and the BFD ≤ next-fit bin-count dominance.

Reference parity: no analogue in the reference tree — beyond-reference
pipeline surface (SURVEY §2-D).
"""

from __future__ import annotations

import bisect

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("n_tokens", T.LongType(), False),
        T.StructField("pack_id", T.LongType(), False),
        T.StructField("pack_offset", T.LongType(), False),
    ]
)

STRATEGIES = ("bfd", "next_fit_id")


def place_bfd(sizes: list[tuple[int, int]], capacity: int) -> dict[int, int]:
    """Driver-reusable placement core: ``[(id, size), ...] -> {id: bin}``,
    best-fit-decreasing with the documented tie-breaks. Exposed so tests
    and small jobs share the EXACT executor logic."""
    order = sorted(sizes, key=lambda p: (-p[1], p[0]))
    # sorted index of (remaining, bin_id); best fit = smallest remaining
    # >= size, ties -> lowest bin id (tuple order gives both)
    index: list[tuple[int, int]] = []
    assignment: dict[int, int] = {}
    n_bins = 0
    for did, size in order:
        pos = bisect.bisect_left(index, (size, -1))
        if pos < len(index):
            rem, b = index.pop(pos)
            index.insert(
                bisect.bisect_left(index, (rem - size, b)), (rem - size, b)
            )
            assignment[did] = b
        else:
            b = n_bins
            n_bins += 1
            rem = capacity - size
            index.insert(bisect.bisect_left(index, (rem, b)), (rem, b))
            assignment[did] = b
    return assignment


def place_next_fit_id(
    sizes: list[tuple[int, int]], capacity: int
) -> dict[int, int]:
    """The baseline twin, NEXT-FIT in id order: only the last-opened bin is
    ever considered — exactly what a single streaming pass over id-sorted
    storage produces (true first-fit would re-probe every open bin, which
    a streaming writer cannot do)."""
    assignment: dict[int, int] = {}
    b = -1
    rem = 0
    for did, size in sorted(sizes):
        # b < 0 guards the zero-size-first edge: a 0-token document must
        # still land in a REAL bin, never bin -1
        if size > rem or b < 0:
            b += 1
            rem = capacity
        assignment[did] = b
        rem -= size
    return assignment


def pack_whole_docs(
    docs: DataFrame,
    capacity: int,
    n_shards: int | None = None,
    shard_col: str | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    strategy: str = "bfd",
    n_tokens_col: str | None = None,
    check_unique_ids: bool = True,
) -> DataFrame:
    """Assign every document, whole, to a fixed-``capacity`` token bin:
    ``(shard, doc_id, n_tokens, pack_id, pack_offset)``. Token count is
    the corpus whitespace model by default; for budgets in REAL tokenizer
    tokens, precompute ``bpe.add_bpe_token_count`` and pass its column as
    ``n_tokens_col`` (NULL/negative counts fail loudly). See module
    docstring for the uniqueness-guard and strategy contracts."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    if strategy not in STRATEGIES:
        raise ValueError(f"strategy must be one of {STRATEGIES}")
    if (n_shards is None) == (shard_col is None):
        raise ValueError("pass exactly one of n_shards / shard_col")
    if n_shards is not None and n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if n_tokens_col is not None and n_tokens_col not in docs.columns:
        raise ValueError(
            f"binpack: n_tokens_col {n_tokens_col!r} not in {docs.columns}"
        )

    if shard_col is not None:
        shard = F.xxhash64(F.col(shard_col))
    else:
        shard = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards)).cast("long")

    bad_id = F.col(id_col).isNull()
    id_msg = F.lit(
        f"binpack: NULL {id_col!r} — placement is keyed by id; "
        "key unidentified rows upstream"
    )
    if n_tokens_col is None:
        n_tok = F.size(
            F.filter(
                F.split(F.coalesce(F.col(text_col), F.lit("")), " "),
                lambda t: t != "",
            )
        ).cast("long")
    else:
        c = F.col(n_tokens_col).cast("long")
        n_tok = F.when(
            c.isNull() | (c < 0),
            F.raise_error(
                F.lit(
                    f"binpack: NULL or negative {n_tokens_col!r} — a "
                    "budget needs a real token count for every document"
                )
            ),
        ).otherwise(c)
    id_ok = (
        F.when(bad_id, F.raise_error(id_msg))
        .otherwise(F.col(id_col))
        .cast("long")
    )
    if check_unique_ids:
        # in shard_col mode a duplicate id can land in two DIFFERENT shards
        # and be packed twice with no task ever seeing both copies — this
        # global window guard (one exchange on the id) catches exactly that;
        # disable only when ids are unique by construction
        w = Window.partitionBy(id_ok)
        dup_msg = F.lit(
            f"binpack: duplicate {id_col!r} across the input — the same "
            "document would be packed more than once; dedup upstream"
        )
        id_ok = F.when(
            F.count(F.lit(1)).over(w) > 1, F.raise_error(dup_msg).cast("long")
        ).otherwise(id_ok)
    src = docs.select(
        shard.alias("shard"),
        id_ok.alias("__id"),
        n_tok.alias("__n"),
    )

    placer = place_bfd if strategy == "bfd" else place_next_fit_id

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        sh = int(pdf["shard"].iloc[0])
        ids = sorted(pdf["__id"])
        for a, b in zip(ids, ids[1:]):
            if a == b:
                raise ValueError(
                    f"binpack: duplicate {id_col!r} value {a!r} — placement "
                    "order would depend on input partitioning; make ids "
                    "unique upstream"
                )
        sizes = list(zip((int(x) for x in pdf["__id"]), (int(x) for x in pdf["__n"])))
        for did, size in sizes:
            if size > capacity:
                raise ValueError(
                    f"binpack: document {did!r} has {size} tokens > "
                    f"capacity {capacity} — it cannot be packed whole; "
                    "split or drop it explicitly upstream"
                )
        assignment = placer(sizes, capacity)
        # offsets in deterministic placement order: BFD's (-size, id),
        # first-fit's plain id order
        if strategy == "bfd":
            order = sorted(sizes, key=lambda p: (-p[1], p[0]))
        else:
            order = sorted(sizes)
        used: dict[int, int] = {}
        rows = []
        for did, size in order:
            b = assignment[did]
            off = used.get(b, 0)
            rows.append((sh, did, size, b, off))
            used[b] = off + size
        return pd.DataFrame(
            rows, columns=["shard", "doc_id", "n_tokens", "pack_id", "pack_offset"]
        )

    return src.groupBy("shard").applyInPandas(pack, _OUT_SCHEMA)


def packing_stats(packed: DataFrame, capacity: int) -> DataFrame:
    """Exact per-shard efficiency: ``(shard, n_docs, n_bins, used_tokens,
    waste_tokens)`` with ``waste = n_bins·capacity − used`` — the padding
    a fixed-shape loader pays. One aggregation."""
    if capacity < 1:
        raise ValueError("capacity must be >= 1")
    per = packed.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.max("pack_id") + F.lit(1)).cast("long").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("used_tokens"),
    )
    return per.select(
        "shard",
        "n_docs",
        "n_bins",
        "used_tokens",
        (F.col("n_bins") * F.lit(capacity) - F.col("used_tokens")).alias(
            "waste_tokens"
        ),
    )
