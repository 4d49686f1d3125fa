"""Crawl-frontier planner (attic/operators/frontier.py): selection rules, rank
ordering, politeness caps, and the full-stack composition from WARC."""

from __future__ import annotations

import gzip

import pytest

from pyspark.sql import functions as F

from attic.operators.frontier import (
    discovered_from_crawl,
    next_frontier,
)

from .warc_fixtures import http_response as _http
from .warc_fixtures import warc_record as _record


def _urls(spark, urls):
    return spark.createDataFrame([(u,) for u in urls], "url string")


def _empty_robots(spark):
    return spark.createDataFrame([], "host string, robots_txt string")


def test_canonicalization_dedup_and_scheme_gate(spark):
    discovered = _urls(
        spark,
        [
            "http://a.example:80/x/../page",   # canonical: http://a.example/page
            "http://a.example/page",            # same URL, spelled plainly
            "HTTP://A.EXAMPLE/page#frag",       # same again
            "mailto:someone@example.com",       # not fetchable
            "javascript:void(0)",               # not fetchable
            "https://b.example/ok",
        ],
    )
    out = next_frontier(
        _urls(spark, []), discovered, _empty_robots(spark), "bot"
    ).collect()
    assert sorted(r["url"] for r in out) == [
        "http://a.example/page",
        "https://b.example/ok",
    ]


def test_already_crawled_urls_drop_on_canonical_form(spark):
    crawled = _urls(spark, ["http://a.example:80/seen"])  # aliased spelling
    discovered = _urls(
        spark, ["http://a.example/seen", "http://a.example/new"]
    )
    out = next_frontier(crawled, discovered, _empty_robots(spark), "bot").collect()
    assert [r["url"] for r in out] == ["http://a.example/new"]


def test_robots_disallowed_urls_never_schedule(spark):
    robots = spark.createDataFrame(
        [("c.example", "User-agent: *\nDisallow: /private/\n")],
        "host string, robots_txt string",
    )
    discovered = _urls(
        spark,
        ["http://c.example/public", "http://c.example/private/x"],
    )
    out = next_frontier(_urls(spark, []), discovered, robots, "bot").collect()
    assert [r["url"] for r in out] == ["http://c.example/public"]


def test_rank_orders_within_host_and_politeness_caps(spark):
    discovered = _urls(
        spark,
        [f"http://h.example/p{i}" for i in range(5)] + ["http://other.example/q"],
    )
    ranks = spark.createDataFrame(
        [("http://h.example/p3", 900), ("http://h.example/p1", 500)],
        "node string, rank_units long",
    )
    out = next_frontier(
        _urls(spark, []), discovered, _empty_robots(spark), "bot",
        ranks=ranks, per_host_limit=3,
    ).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    h = sorted(by_host["h.example"], key=lambda r: r["host_pos"])
    # ranked URLs first (desc), then url-lexicographic; cap at 3
    assert [r["url"] for r in h] == [
        "http://h.example/p3",
        "http://h.example/p1",
        "http://h.example/p0",
    ]
    assert [r["rank_units"] for r in h] == [900, 500, 0]
    assert [r["host_pos"] for r in h] == [1, 2, 3]
    # the other host is unaffected by h.example's cap
    assert [r["url"] for r in by_host["other.example"]] == [
        "http://other.example/q"
    ]


def test_param_and_column_validation(spark):
    with pytest.raises(ValueError, match="per_host_limit"):
        next_frontier(
            _urls(spark, []), _urls(spark, []), _empty_robots(spark), "bot",
            per_host_limit=0,
        )
    with pytest.raises(ValueError, match="not in crawled"):
        next_frontier(
            spark.createDataFrame([(1,)], "x long"),
            _urls(spark, []),
            _empty_robots(spark),
            "bot",
        )
    # a malformed robots/ranks frame fails loudly up front, not as an
    # opaque AnalysisException deep inside the join (review finding)
    with pytest.raises(ValueError, match="robots frame needs"):
        next_frontier(
            _urls(spark, []), _urls(spark, []),
            spark.createDataFrame([("x",)], "wrong string"), "bot",
        )
    with pytest.raises(ValueError, match="ranks frame needs"):
        next_frontier(
            _urls(spark, []), _urls(spark, []), _empty_robots(spark), "bot",
            ranks=spark.createDataFrame([("x",)], "wrong string"),
        )


def test_child_sitemaps_and_robots_declarations_are_discovered(spark, tmp_path):
    """A sitemapindex's child sitemaps and robots-declared Sitemap URLs are
    fetch targets — dropping them dead-ends their whole URL trees (review
    finding)."""
    import gzip

    from hbase_observer_es_spark.sources.warc import read_warc

    index = (
        b'<?xml version="1.0"?><sitemapindex><sitemap>'
        b"<loc>http://i.example/sitemap-1.xml</loc></sitemap>"
        b"<sitemap><loc>http://i.example/sitemap-2.xml</loc></sitemap>"
        b"</sitemapindex>"
    )
    shard = _record(
        "response",
        _http(b"User-agent: *\nSitemap: http://i.example/declared.xml\n",
              b"text/plain"),
        uri="http://i.example/robots.txt", rid="id:0",
    ) + _record(
        "response", _http(index, b"application/xml"),
        uri="http://i.example/sitemap.xml", rid="id:1",
    )
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "s.warc.gz").write_bytes(gzip.compress(shard))
    warc = read_warc(spark, str(tmp_path / "c"))
    discovered = sorted(
        r["url"] for r in discovered_from_crawl(warc).distinct().collect()
    )
    assert discovered == [
        "http://i.example/declared.xml",
        "http://i.example/sitemap-1.xml",
        "http://i.example/sitemap-2.xml",
    ]
    # and they actually schedule: nothing here was crawled except the
    # index itself and robots.txt
    crawled = warc.filter("warc_type = 'response'").select(
        F.col("target_uri").alias("url")
    )
    from attic.operators.robots import robots_policies

    planned = sorted(
        r["url"]
        for r in next_frontier(
            crawled, discovered_from_crawl(warc), robots_policies(warc), "bot"
        ).collect()
    )
    assert planned == discovered


def test_full_stack_composition_from_warc(spark, tmp_path):
    """The loop the module exists for: one crawled wave in WARC → robots +
    sitemap + outlinks + PageRank → the next wave, with every rule active
    at once."""
    from hbase_observer_es_spark.operators.graph import pagerank_over_edges
    from hbase_observer_es_spark.operators.html_text import warc_outlinks
    from attic.operators.robots import robots_policies

    def page(links):
        body = "<p>plenty of page prose here</p>" + "".join(
            f'<a href="{u}">x</a>' for u in links
        )
        return _http(f"<html><body>{body}</body></html>".encode())

    sitemap = (
        b'<?xml version="1.0"?><urlset><url>'
        b"<loc>http://s.example/from-sitemap</loc></url>"
        b"<url><loc>http://s.example/private/secret</loc></url></urlset>"
    )
    shard = (
        _record(
            "response",
            _http(b"User-agent: *\nDisallow: /private/\n", b"text/plain"),
            uri="http://s.example/robots.txt", rid="id:0",
        )
        + _record(
            "response",
            page(["http://s.example/hub", "http://s.example/leaf"]),
            uri="http://s.example/", rid="id:1",
        )
        + _record(
            "response",
            page(["http://s.example/hub"]),  # second vote for /hub
            uri="http://s.example/other", rid="id:2",
        )
        + _record(
            "response", _http(sitemap, b"application/xml"),
            uri="http://s.example/sitemap.xml", rid="id:3",
        )
    )
    (tmp_path / "c").mkdir()
    (tmp_path / "c" / "s.warc.gz").write_bytes(gzip.compress(shard))
    from hbase_observer_es_spark.sources.warc import read_warc

    warc = read_warc(spark, str(tmp_path / "c"))
    crawled = warc.filter(F.col("warc_type") == "response").select(
        F.col("target_uri").alias("url")
    )
    frontier = next_frontier(
        crawled,
        discovered_from_crawl(warc),
        robots_policies(warc),
        "trainingbot",
        ranks=pagerank_over_edges(warc_outlinks(warc)),
        per_host_limit=10,
    )
    rows = sorted(frontier.collect(), key=lambda r: r["host_pos"])
    urls = [r["url"] for r in rows]
    # crawled pages and the disallowed sitemap URL are gone; /hub outranks
    # /leaf (two votes vs one); the sitemap-only discovery plans at rank 0
    assert urls == [
        "http://s.example/hub",
        "http://s.example/leaf",
        "http://s.example/from-sitemap",
    ]
    assert rows[0]["rank_units"] > rows[1]["rank_units"] > 0
    assert rows[2]["rank_units"] == 0
