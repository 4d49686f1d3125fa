"""Whole-document bin-packing tests: independent naive mirror, capacity and
exactly-once invariants, BFD-dominates-first-fit, determinism, fail-loud."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from attic.operators.binpack import (
    pack_whole_docs,
    packing_stats,
    place_bfd,
    place_next_fit_id,
)


def naive_bfd(sizes, capacity):
    """Independent mirror: bins as an explicit list, linear best-fit scan."""
    order = sorted(sizes, key=lambda p: (-p[1], p[0]))
    bins: list[int] = []  # remaining per bin
    out = {}
    for did, size in order:
        best = None
        for i, rem in enumerate(bins):
            if rem >= size and (best is None or rem < bins[best]):
                best = i
        if best is None:
            bins.append(capacity - size)
            out[did] = len(bins) - 1
        else:
            bins[best] -= size
            out[did] = best
    return out


def test_bfd_matches_naive_mirror_property():
    rng = random.Random(3)
    for trial in range(200):
        cap = rng.randint(4, 40)
        sizes = [
            (i, rng.randint(0, cap)) for i in range(rng.randint(1, 40))
        ]
        assert place_bfd(sizes, cap) == naive_bfd(sizes, cap), (trial, sizes)


def test_bfd_dominates_next_fit_property():
    rng = random.Random(9)
    for _ in range(200):
        cap = rng.randint(4, 40)
        sizes = [(i, rng.randint(1, cap)) for i in range(rng.randint(1, 40))]
        n_bfd = len(set(place_bfd(sizes, cap).values()))
        n_nf = len(set(place_next_fit_id(sizes, cap).values()))
        assert n_bfd <= n_nf


def test_bfd_strictly_beats_next_fit_on_crafted_case():
    # next-fit in id order 6,5,4,3 with cap 9: [6][5,4][3] = 3 bins (only
    # the LAST bin is ever probed); BFD pairs 6+3 and 5+4 into 2
    sizes = [(1, 6), (2, 5), (3, 4), (4, 3)]
    assert len(set(place_bfd(sizes, 9).values())) == 2
    assert len(set(place_next_fit_id(sizes, 9).values())) == 3


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_spark_invariants_and_stats(spark):
    rows = [(i, "w " * ((i * 7) % 30 + 1)) for i in range(80)]
    cap = 32
    packed = pack_whole_docs(_docs(spark, rows), cap, n_shards=4)
    out = packed.collect()
    assert len(out) == 80 and len({r["doc_id"] for r in out}) == 80
    # capacity respected: per (shard, pack_id) token sums <= cap, and the
    # offsets are contiguous within each bin
    by_bin: dict[tuple, list] = {}
    for r in out:
        by_bin.setdefault((r["shard"], r["pack_id"]), []).append(r)
    for members in by_bin.values():
        total = sum(r["n_tokens"] for r in members)
        assert total <= cap
        offs = sorted((r["pack_offset"], r["n_tokens"]) for r in members)
        pos = 0
        for off, n in offs:
            assert off == pos
            pos += n
    stats = {r["shard"]: r for r in packing_stats(packed, cap).collect()}
    for r in stats.values():
        assert r["waste_tokens"] == r["n_bins"] * cap - r["used_tokens"]
        assert r["waste_tokens"] >= 0


def test_partitioning_invariance(spark):
    rows = [(i, "t " * ((i * 13) % 20 + 1)) for i in range(60)]
    a = pack_whole_docs(_docs(spark, rows).repartition(1), 24, n_shards=3).collect()
    b = pack_whole_docs(_docs(spark, rows).repartition(9), 24, n_shards=3).collect()
    key = lambda r: (r["shard"], r["doc_id"], r["pack_id"], r["pack_offset"])
    assert sorted(map(key, a)) == sorted(map(key, b))


def test_strategy_comparison_on_spark(spark):
    rows = [(i, "x " * ((i * 11) % 28 + 1)) for i in range(100)]
    cap = 30
    bfd = packing_stats(
        pack_whole_docs(_docs(spark, rows), cap, n_shards=2), cap
    ).agg(F.sum("n_bins")).head()[0]
    ff = packing_stats(
        pack_whole_docs(_docs(spark, rows), cap, n_shards=2, strategy="next_fit_id"),
        cap,
    ).agg(F.sum("n_bins")).head()[0]
    assert bfd <= ff


def test_zero_token_docs_land_in_real_bins(spark):
    docs = _docs(spark, [(1, ""), (2, None), (3, "a b")])
    out = pack_whole_docs(docs, 4, n_shards=1).collect()
    assert all(r["pack_id"] >= 0 for r in out) and len(out) == 3
    ff = pack_whole_docs(docs, 4, n_shards=1, strategy="next_fit_id").collect()
    assert all(r["pack_id"] >= 0 for r in ff)


def test_bpe_budget_via_n_tokens_col(spark):
    from attic.operators.bpe import add_bpe_token_count

    docs = _docs(spark, [(1, "aa bb"), (2, "aa aa aa aa"), (3, "cc")])
    counted = add_bpe_token_count(docs, [(b"a", b"a")])  # 'aa' -> 1 token
    packed = {
        r["doc_id"]: r["n_tokens"]
        for r in pack_whole_docs(
            counted, 4, n_shards=1, n_tokens_col="n_bpe_tokens"
        ).collect()
    }
    # BPE counts, not whitespace counts: "aa bb" = 1+2, "aa aa aa aa" = 4,
    # "cc" = 2 (no c-merge trained)
    assert packed == {1: 3, 2: 4, 3: 2}
    bad = spark.createDataFrame(
        [(1, "x", None)], "doc_id long, text string, n long"
    )
    with pytest.raises(Exception, match="NULL or negative"):
        pack_whole_docs(bad, 4, n_shards=1, n_tokens_col="n").collect()


def test_cross_shard_duplicate_ids_caught_globally(spark):
    # shard_col mode: the same id in two different shard values would be
    # packed twice with no single task seeing both copies
    docs = spark.createDataFrame(
        [(7, "a b", "en"), (7, "c d", "fr")],
        "doc_id long, text string, lang string",
    )
    with pytest.raises(Exception, match="duplicate 'doc_id' across"):
        pack_whole_docs(docs, 8, shard_col="lang").collect()
    # opt-out: the caller asserts uniqueness, the guard exchange disappears
    out = pack_whole_docs(
        docs, 8, shard_col="lang", check_unique_ids=False
    ).collect()
    assert len(out) == 2


def test_fail_loud(spark):
    docs = _docs(spark, [(1, "a b c")])
    with pytest.raises(ValueError, match="capacity"):
        pack_whole_docs(docs, 0, n_shards=1)
    with pytest.raises(ValueError, match="strategy"):
        pack_whole_docs(docs, 4, n_shards=1, strategy="magic")
    with pytest.raises(ValueError, match="exactly one"):
        pack_whole_docs(docs, 4)
    with pytest.raises(Exception, match="cannot be packed whole"):
        pack_whole_docs(docs, 2, n_shards=1).collect()
    dups = _docs(spark, [(1, "a"), (1, "b")])
    with pytest.raises(Exception, match="duplicate 'doc_id'"):
        pack_whole_docs(dups, 4, n_shards=1).collect()
    nulls = _docs(spark, [(None, "a")])
    with pytest.raises(Exception, match="NULL 'doc_id'"):
        pack_whole_docs(nulls, 4, n_shards=1).collect()
