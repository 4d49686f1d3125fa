"""End-to-end corpus pipeline demo over the completed ingest ladder:

    WARC shard → HTML→text extraction → language ID → quality gate →
    exact dedup → sequence packing → published sharded dataset →
    consumer-side verify_export

Every stage is an existing, independently-tested component; this test proves
they COMPOSE — the round-9 ingest/publication surface feeds the corpus
operators end-to-end with documents-shaped frames at each boundary, exactly
the way a Common Crawl pipeline would run them. Stage landings go through
``documents.parquet`` directories so the registered (spark, sf_dir) queries
drive each hop unmodified."""

from __future__ import annotations

import gzip

import pytest

from pyspark.sql import functions as F

from hbase_observer_es_spark.operators.corpus_stats import q_text_pack_sharded
from hbase_observer_es_spark.operators.dedup import q_dedup_exact
from hbase_observer_es_spark.operators.html_text import warc_html_documents
from hbase_observer_es_spark.operators.text import q_text_langid, q_text_quality
from hbase_observer_es_spark.io import table
from attic.sinks.dataset_export import export_dataset, verify_export
from hbase_observer_es_spark.sources.warc import read_warc


from .warc_fixtures import http_response as _http  # noqa: E402


from .warc_fixtures import warc_record as _record  # noqa: E402


def _page(text: str) -> bytes:
    return _http(
        b"<html><head><style>p{}</style></head><body><p>"
        + text.encode()
        + b"</p><script>x()</script></body></html>"
    )


# the crawl: 4 good English pages (one exact duplicate pair under different
# URIs), 1 too-short page (quality gate drops it), 1 JSON response and 1
# request record (extraction drops both)
_GOOD = "the quick brown fox jumps over the lazy dog and runs into the field"
_ALSO = "a tale of two cities was the best of times and the worst of times"
_SHORT = "tiny"


def _shard() -> bytes:
    return (
        _record("warcinfo", b"software: test\r\n", rid="id:0")
        + _record("request", b"GET / HTTP/1.1\r\n", uri="http://x.example/1", rid="id:1")
        + _record("response", _page(_GOOD), uri="http://x.example/1", rid="id:2")
        + _record("response", _page(_ALSO), uri="http://x.example/2", rid="id:3")
        + _record("response", _page(_GOOD), uri="http://mirror.example/1", rid="id:4")
        + _record("response", _page(_SHORT), uri="http://x.example/3", rid="id:5")
        + _record(
            "response", _http(b"{}", b"application/json"),
            uri="http://x.example/api", rid="id:6",
        )
    )


def _land(df, stage_dir) -> str:
    df.write.mode("overwrite").parquet(str(stage_dir / "documents.parquet"))
    return str(stage_dir)


MIN_TOKENS = 8


def test_warc_to_published_dataset_end_to_end(spark, tmp_path):
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "s.warc.gz").write_bytes(gzip.compress(_shard()))

    # 1. ingest + extract: archival shard -> documents-shaped rows
    extracted = warc_html_documents(read_warc(spark, str(tmp_path / "crawl")))
    s1 = _land(extracted, tmp_path / "s1")
    assert table(spark, s1, "documents").count() == 4  # html responses only

    # 2. language ID fills the lang column extraction left NULL
    pred = q_text_langid(spark, s1).select("doc_id", "pred_lang")
    docs = (
        table(spark, s1, "documents")
        .drop("lang")
        .join(pred, "doc_id")
        .withColumnRenamed("pred_lang", "lang")
        .select("doc_id", "text", "lang", "source", "n_chars")
    )
    s2 = _land(docs, tmp_path / "s2")
    assert {r.lang for r in table(spark, s2, "documents").collect()} == {"en"}

    # 3. quality gate: the 1-token page fails, the prose pages pass
    kept_ids = q_text_quality(spark, s2).filter(
        F.col("n_tokens") >= MIN_TOKENS
    ).select("doc_id")
    gated = table(spark, s2, "documents").join(kept_ids, "doc_id")
    s3 = _land(gated, tmp_path / "s3")
    assert table(spark, s3, "documents").count() == 3  # short page dropped

    # 4. exact dedup: the mirrored duplicate collapses to the lowest doc_id
    survivors = q_dedup_exact(spark, s3).select("doc_id")
    deduped = table(spark, s3, "documents").join(survivors, "doc_id")
    s4 = _land(deduped, tmp_path / "s4")
    final = table(spark, s4, "documents")
    assert final.count() == 2
    assert final.select("text").distinct().count() == 2

    # 5. sequence packing within the lang shard
    packed = q_text_pack_sharded(spark, s4)
    pack_rows = packed.collect()
    assert {r.shard for r in pack_rows} == {"en"}
    assert all(r.pack_id == 0 for r in pack_rows)  # 2 short docs: one bin
    offsets = sorted(r.pack_offset for r in pack_rows)
    assert offsets[0] == 0 and offsets[1] > 0  # contiguous packing

    # 6. publish: deduped docs + their pack assignment, sharded + manifest
    publishable = final.join(
        packed.select("doc_id", "pack_id", "pack_offset"), "doc_id"
    )
    out = str(tmp_path / "published")
    manifest = export_dataset(publishable, out, key="doc_id", n_shards=2)
    assert manifest["total_rows"] == 2

    # 7. consumer-side integrity gate over the published files
    verified = verify_export(spark, out)
    assert verified["total_rows"] == 2
    assert verified["columns"] == publishable.columns


def test_full_crawl_story_with_robots_and_link_rank(spark, tmp_path):
    """The complete crawl chain in one pass: WARC shard → robots policy →
    extraction (allowed pages only) → outlink graph → PageRank → published
    dataset carrying the rank as a quality signal. Proves the round's
    compliance and graph layers COMPOSE with the publication surface."""
    from hbase_observer_es_spark.operators.graph import pagerank_over_edges
    from hbase_observer_es_spark.operators.html_text import warc_outlinks
    from attic.operators.robots import (
        filter_allowed,
        robots_policies,
    )

    def page(text: str, links: list[str]) -> bytes:
        body = f"<p>{text}</p>" + "".join(f'<a href="{u}">l</a>' for u in links)
        return _http(b"<html><body>" + body.encode() + b"</body></html>")

    shard = (
        _record(
            "response",
            _http(b"User-agent: *\nDisallow: /private/\n", b"text/plain"),
            uri="http://c.example/robots.txt",
            rid="id:0",
        )
        + _record(
            "response",
            page("the home page has plenty of words", ["http://c.example/about"]),
            uri="http://c.example/", rid="id:1",
        )
        + _record(
            "response",
            page("the about page links back home", ["http://c.example/"]),
            uri="http://c.example/about", rid="id:2",
        )
        + _record(
            "response",
            page("a private page that must not land", []),
            uri="http://c.example/private/x", rid="id:3",
        )
    )
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "s.warc.gz").write_bytes(gzip.compress(shard))
    warc = read_warc(spark, str(tmp_path / "crawl"))

    robots = robots_policies(warc)
    docs = filter_allowed(warc_html_documents(warc), robots, "trainingbot")
    assert sorted(r.source for r in docs.collect()) == [
        "http://c.example/",
        "http://c.example/about",
    ]  # the disallowed /private/ page is gone BEFORE any downstream stage

    ranks = pagerank_over_edges(warc_outlinks(warc)).withColumnRenamed(
        "node", "source"
    )
    publishable = docs.join(ranks, "source", "left").select(
        "doc_id", "text", "source", F.col("rank_units").alias("link_rank_units")
    )
    out = str(tmp_path / "published")
    manifest = export_dataset(publishable, out, key="doc_id", n_shards=2)
    assert manifest["total_rows"] == 2
    verified = verify_export(spark, out)
    assert verified["columns"][-1] == "link_rank_units"
    ranked = {r.source: r.link_rank_units for r in spark.read.parquet(out).select("source", "link_rank_units").collect()}
    assert all(v is not None and v > 0 for v in ranked.values())


def test_wet_publication_closes_the_crawl_loop(spark, tmp_path):
    """WARC in → extract → dedup → WET out → re-ingest: the published WET
    shards are themselves valid crawl input, so a corpus curated here can be
    mirrored, verified, and re-consumed by the SAME ingest path — the full
    Common Crawl round trip, with no format special-casing anywhere."""
    from attic.sinks.wet import read_wet, verify_wet, write_wet

    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "s.warc.gz").write_bytes(gzip.compress(_shard()))

    extracted = warc_html_documents(read_warc(spark, str(tmp_path / "crawl")))
    s1 = _land(extracted, tmp_path / "s1")
    survivors = q_dedup_exact(spark, s1).select("doc_id")
    deduped = table(spark, s1, "documents").join(survivors, "doc_id")

    out = str(tmp_path / "wet")
    manifest = write_wet(deduped, out, n_shards=2)
    assert manifest["total_records"] == 3
    verify_wet(out)  # consumer-side byte audit over the published shards

    # re-ingest the PUBLISHED corpus through the same WARC machinery and
    # confirm the text multiset survived the round trip exactly
    back = read_wet(spark, out)
    assert sorted(r.text for r in back.collect()) == sorted(
        r.text for r in deduped.collect()
    )
    # and the re-ingested frame is documents-shaped: a downstream operator
    # (the quality scorer) runs on it unmodified
    s2 = _land(back, tmp_path / "s2")
    assert q_text_quality(spark, s2).count() == 3


def test_bpe_tokenizer_trains_on_and_counts_the_curated_corpus(spark, tmp_path):
    """The tokenizer is itself a pipeline product: train byte-level BPE on
    the curated (extracted + deduped) corpus, persist the merges artifact
    next to the dataset, reload it, and budget the corpus in REAL tokenizer
    tokens — the unit pack budgets and mixture weights are specified in."""
    from attic.operators.bpe import (
        add_bpe_token_count,
        encode_text,
        merges_from_table,
        merges_table,
        train_bpe,
    )

    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "s.warc.gz").write_bytes(gzip.compress(_shard()))
    extracted = warc_html_documents(read_warc(spark, str(tmp_path / "crawl")))
    s1 = _land(extracted, tmp_path / "s1")
    survivors = q_dedup_exact(spark, s1).select("doc_id")
    deduped = table(spark, s1, "documents").join(survivors, "doc_id")

    merges = train_bpe(deduped, num_merges=100)
    assert merges  # real prose trains real merges
    art = str(tmp_path / "tokenizer" / "merges.parquet")
    merges_table(spark, merges).write.parquet(art)
    reloaded = merges_from_table(spark.read.parquet(art))
    assert reloaded == merges  # the artifact round-trips byte-for-byte

    counted = add_bpe_token_count(deduped, reloaded).collect()
    assert all(r["n_bpe_tokens"] > 0 for r in counted)
    # the distributed count agrees with a driver-side encode, doc by doc
    for r in counted:
        assert r["n_bpe_tokens"] == len(encode_text(r["text"], reloaded))


def test_multimodal_payloads_publish_as_webdataset(spark, tmp_path):
    """The multimodal story composes with publication: opaque binary
    payloads plus their decoded-metadata JSON ship as WebDataset tar
    samples, round-trip byte-for-byte through read_wds, and the metadata
    re-derives from the payload bytes alone — what an image/audio corpus
    ships to a loader, with the fixture's deterministic fake codec
    standing in for the decoder (D15)."""
    import json as _json

    from pyspark.sql import functions as F2

    from hbase_observer_es_spark.operators.multimodal import (
        _fake_decode,
        q_mm_decode,
    )
    from attic.sinks.wds import read_wds, verify_wds, write_wds

    sf = "/root/testdata/sf0.001"
    meta = q_mm_decode(spark, sf).select(
        "doc_id",
        F2.to_json(F2.struct("width", "height", "n_frames", "fmt")).alias("meta"),
    )
    payloads = (
        table(spark, sf, "documents")
        .select("doc_id", F2.encode("text", "UTF-8").alias("payload"))
        .join(meta, "doc_id")
        .withColumn("key", F2.format_string("doc-%05d", F2.col("doc_id")))
        .limit(50)
    )
    out = str(tmp_path / "mmwds")
    (tmp_path / "mmwds").mkdir()
    write_wds(
        payloads, out, {"payload": "bin", "meta": "json"}, n_shards=2,
        key_col="key",
    )
    verify_wds(out)

    back = read_wds(spark, out).collect()
    by = {}
    for r in back:
        by.setdefault(r["key"], {})[r["ext"]] = bytes(r["content"])
    assert len(by) == 50
    for sample in by.values():
        m = _json.loads(sample["json"])
        w, h, nf, fmt = _fake_decode(sample["bin"])
        assert (m["width"], m["height"], m["n_frames"], m["fmt"]) == (
            w, h, nf, fmt,
        )


def test_pipeline_is_deterministic_across_reruns(spark, tmp_path):
    """Re-running the whole chain on the same shard publishes identical
    per-shard fingerprints — the rerun-stability contract that makes the
    published dataset diffable."""
    (tmp_path / "crawl").mkdir()
    (tmp_path / "crawl" / "s.warc.gz").write_bytes(gzip.compress(_shard()))

    def run(tag: str) -> dict:
        extracted = warc_html_documents(read_warc(spark, str(tmp_path / "crawl")))
        s1 = _land(extracted, tmp_path / f"{tag}_s1")
        survivors = q_dedup_exact(spark, s1).select("doc_id")
        deduped = table(spark, s1, "documents").join(survivors, "doc_id")
        out = str(tmp_path / f"{tag}_out")
        return export_dataset(deduped, out, key="doc_id", n_shards=2)

    m1, m2 = run("a"), run("b")
    f1 = {s: e["fingerprint"] for s, e in m1["shards"].items()}
    f2 = {s: e["fingerprint"] for s, e in m2["shards"].items()}
    assert f1 == f2 and m1["total_rows"] == m2["total_rows"]
