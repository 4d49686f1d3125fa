"""Sequence-packing tests: hand goldens, bit-exact stream reconstruction
against driver-side encodes, partitioning invariance, shape/EOD contracts."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from attic.operators.bpe import encode_text, train_bpe
from attic.operators.seqpack import pack_training_sequences
from tests.conftest import SF_ORACLE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_golden_single_shard(spark):
    # no merges: ids are raw bytes; eod defaults to 256
    docs = _docs(spark, [(1, "ab"), (2, "c")])
    out = pack_training_sequences(docs, [], seq_len=2, n_shards=1).collect()
    # stream in doc_id order: [97, 98, 256, 99, 256] -> two full pairs,
    # remainder [256] dropped
    seqs = {r["seq_id"]: (list(r["input_ids"]), r["n_eod"]) for r in out}
    assert seqs == {0: ([97, 98], 0), 1: ([256, 99], 1)}
    assert {r["shard"] for r in out} == {0}


def test_reconstruction_property(spark):
    docs = (
        spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
        .select("doc_id", "text")
        .limit(60)
    )
    merges = train_bpe(docs, num_merges=150)
    eod = 256 + len(merges)
    seq_len = 128
    n_shards = 4
    out = pack_training_sequences(
        docs, merges, seq_len=seq_len, n_shards=n_shards
    ).collect()
    assert all(len(r["input_ids"]) == seq_len for r in out)

    # rebuild each shard's stream driver-side and compare bit-for-bit
    rows = docs.withColumn(
        "shard", F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("long")
    ).collect()
    by_shard: dict[int, list[int]] = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        by_shard.setdefault(r["shard"], []).extend(
            encode_text(r["text"], merges) + [eod]
        )
    for sh, stream in by_shard.items():
        want = stream[: (len(stream) // seq_len) * seq_len]
        got = [
            i
            for r in sorted(
                (r for r in out if r["shard"] == sh), key=lambda r: r["seq_id"]
            )
            for i in r["input_ids"]
        ]
        assert got == want, sh
    # per-sequence EOD counts sum to the number of whole documents emitted
    assert sum(r["n_eod"] for r in out) == sum(
        s.count(eod) for s in (
            st[: (len(st) // seq_len) * seq_len] for st in by_shard.values()
        )
    )


def test_partitioning_invariance(spark):
    rows = [(i, f"tok{i % 7} tok{i % 3} filler words here") for i in range(40)]
    a = pack_training_sequences(
        _docs(spark, rows).repartition(1), [], 16, n_shards=3
    ).collect()
    b = pack_training_sequences(
        _docs(spark, rows).repartition(11), [], 16, n_shards=3
    ).collect()
    assert sorted(map(lambda r: (r["shard"], r["seq_id"], list(r["input_ids"]), r["n_eod"]), a)) == sorted(
        map(lambda r: (r["shard"], r["seq_id"], list(r["input_ids"]), r["n_eod"]), b)
    )


def test_shard_col_rule(spark):
    docs = spark.createDataFrame(
        [(1, "a b", "en"), (2, "c d", "fr"), (3, "e f", "en")],
        "doc_id long, text string, lang string",
    )
    # seq_len=3: en stream is [a,b,EOD,e,f,EOD] -> 2 seqs; fr [c,d,EOD] -> 1
    out = pack_training_sequences(docs, [], 3, shard_col="lang").collect()
    assert len({r["shard"] for r in out}) == 2  # one shard per lang value
    assert len(out) == 3


def test_empty_and_null_text_docs_still_emit_eod(spark):
    docs = _docs(spark, [(1, None), (2, ""), (3, "x")])
    out = pack_training_sequences(docs, [], seq_len=3, n_shards=1).collect()
    # stream: [256, 256, 120, 256] -> one sequence [256, 256, 120], 2 EODs
    assert len(out) == 1
    assert list(out[0]["input_ids"]) == [256, 256, 120]
    assert out[0]["n_eod"] == 2


def test_validation(spark):
    docs = _docs(spark, [(1, "a")])
    with pytest.raises(ValueError, match="seq_len"):
        pack_training_sequences(docs, [], 1, n_shards=1)
    with pytest.raises(ValueError, match="exactly one"):
        pack_training_sequences(docs, [], 4)
    with pytest.raises(ValueError, match="exactly one"):
        pack_training_sequences(docs, [], 4, n_shards=1, shard_col="text")
    with pytest.raises(ValueError, match="n_shards"):
        pack_training_sequences(docs, [], 4, n_shards=0)
    with pytest.raises(ValueError, match="collides"):
        pack_training_sequences(
            docs, [(b"a", b"b")], 4, n_shards=1, eod_id=256
        )
    with pytest.raises(ValueError, match="int32"):
        pack_training_sequences(docs, [], 4, n_shards=1, eod_id=-1)
    with pytest.raises(ValueError, match="int32"):
        pack_training_sequences(docs, [], 4, n_shards=1, eod_id=2**31)
    # invalid max_word_bytes fails at the driver, not mid-job
    with pytest.raises(ValueError, match="max_word_bytes"):
        pack_training_sequences(docs, [], 4, n_shards=1, max_word_bytes=0)
    # duplicate ids would make stream order partitioning-dependent
    dups = _docs(spark, [(1, "a"), (1, "b")])
    with pytest.raises(Exception, match="duplicate 'doc_id'"):
        pack_training_sequences(dups, [], 2, n_shards=1).collect()
    # explicit eod past the vocab is fine
    out = pack_training_sequences(
        docs, [(b"a", b"b")], 2, n_shards=1, eod_id=999
    ).collect()
    assert list(out[0]["input_ids"]) == [97, 999]
