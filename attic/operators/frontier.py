"""Crawl-frontier planning — "what to fetch next", as a batch operator.

The round's crawl stack parses what a crawl ALREADY fetched: robots
policies (``attic/operators/robots.py``), sitemap declarations
(``attic/operators/sitemap.py``), outlink graphs and their PageRank
(``operators/html_text.py``, ``operators/graph.py``). A batch crawler closes
the loop by planning the next fetch wave from those artifacts — this module
is that planner, the composition point of the whole stack::

    discovered = outlinks.select(dst) ∪ sitemap locs     # candidates
    frontier   = next_frontier(crawled, discovered, robots, agent, ranks)

Selection rules (deterministic, in order):

1. Candidates canonicalize per RFC 3986 (``operators/urlnorm.py``) and
   de-duplicate — spec-equivalent spellings become ONE frontier row.
2. Only ``http``/``https`` URLs survive (extractors occasionally surface
   ``mailto:``/``javascript:`` targets; a fetcher cannot act on them).
3. Already-crawled URLs drop (anti-join on the canonical form).
4. robots-disallowed URLs drop (``robots.filter_allowed`` — the same
   RFC 9309 matcher the ingest gate uses, so the planner can never schedule
   what ingest would refuse).
5. Each URL gets its link-rank (integer ``rank_units`` from
   ``graph.pagerank_over_edges``; unranked URLs — e.g. sitemap-only
   discoveries — rank 0) and a per-host position ``host_pos`` ordered by
   (rank desc, url asc). Rows past ``per_host_limit`` drop: politeness is
   a PLANNING constraint (a polite fetcher hits one host at a bounded
   rate, so scheduling 10 000 URLs of one host into a wave starves the
   rest of the wave).

Output: ``(url, host, rank_units, host_pos)`` — one row per plannable URL.
Deliberately NO global ordering column: a global rank sort would be a
full-corpus sort for a property the consumer re-derives anyway (fetch
waves are usually bucketed by host; ``host_pos`` already orders within the
unit that matters). Scale posture: two hash joins (anti-join on the
canonical URL, rank join) + one per-host window — every shuffle keys on
url or host, no global sort, no collect. The robots frame is one row per
HOST (small by construction); Spark may broadcast it on its own, and the
per-host window's skew ceiling is ``per_host_limit`` rows RETAINED per
host (the window itself sees all candidate rows of a host — a single
pathological host with millions of discovered URLs is exactly the skew
AQE's window-group-limit pushdown and the rank-desc TopK cut bound).

Not registry-checked: the fixture tables carry no URL corpus; the tests
drive the planner from WARC fixtures through the full stack (robots +
sitemap + outlinks + rank) and pin every rule above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from attic.operators.robots import filter_allowed
from hbase_observer_es_spark.operators.urlnorm import canonical_url_udf


def next_frontier(
    crawled: DataFrame,
    discovered: DataFrame,
    robots: DataFrame,
    user_agent: str,
    ranks: DataFrame | None = None,
    per_host_limit: int = 100,
    url_col: str = "url",
) -> DataFrame:
    """Plan the next fetch wave (module docstring has the rules).

    ``crawled`` and ``discovered`` need ``url_col``; ``robots`` is the
    (host, robots_txt) frame from ``robots_policies`` (an empty frame means
    no policies: everything is allowed); ``ranks`` is (node, rank_units)
    from ``pagerank_over_edges`` or None for rank-free planning.
    """
    if per_host_limit < 1:
        raise ValueError("per_host_limit must be >= 1")
    for df, name in ((crawled, "crawled"), (discovered, "discovered")):
        if url_col not in df.columns:
            raise ValueError(
                f"frontier: column {url_col!r} not in {name} frame {df.columns}"
            )
    for c in ("host", "robots_txt"):
        if c not in robots.columns:
            raise ValueError(
                f"frontier: robots frame needs {c!r} (got {robots.columns}) — "
                "pass the (host, robots_txt) frame from robots_policies"
            )
    if ranks is not None:
        for c in ("node", "rank_units"):
            if c not in ranks.columns:
                raise ValueError(
                    f"frontier: ranks frame needs {c!r} (got {ranks.columns}) "
                    "— pass the (node, rank_units) frame from "
                    "pagerank_over_edges"
                )

    cand = (
        discovered.select(canonical_url_udf(F.col(url_col)).alias("url"))
        .filter(F.col("url").isNotNull())
        .filter(F.col("url").rlike("^https?://"))
        .distinct()
    )
    seen = crawled.select(canonical_url_udf(F.col(url_col)).alias("url")).filter(
        F.col("url").isNotNull()
    )
    fresh = cand.join(seen, "url", "left_anti")
    # keep_host: the robots gate already computed each URL's canonical host
    # for its own join — reuse it instead of re-parsing every URL for the
    # politeness window (review finding)
    allowed = filter_allowed(
        fresh, robots, user_agent, url_col="url", keep_host="host"
    )

    if ranks is not None:
        allowed = allowed.join(
            ranks.select(F.col("node").alias("url"), "rank_units"), "url", "left"
        )
    else:
        allowed = allowed.withColumn("rank_units", F.lit(None).cast("long"))
    ranked = allowed.withColumn(
        "rank_units", F.coalesce(F.col("rank_units"), F.lit(0)).cast("long")
    )

    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy(
        F.col("rank_units").desc(), F.col("url")
    )
    return (
        ranked.withColumn("host_pos", F.row_number().over(w))
        .filter(F.col("host_pos") <= per_host_limit)
        .select("url", "host", "rank_units", "host_pos")
    )


def discovered_from_crawl(warc_df: DataFrame) -> DataFrame:
    """The standard candidate set from a crawl's own artifacts, as one
    ``url`` column: outlink destinations ∪ ALL sitemap locs ∪
    robots-declared sitemap URLs. Sitemap locs deliberately include
    ``sitemapindex`` children — a child sitemap is itself a fetch target,
    and its URL tree is unreachable any other way (it is XML, so the HTML
    outlink extractor never sees it; review finding). Likewise
    ``Sitemap:`` lines in robots.txt seed sitemaps the crawl has not
    fetched yet. Sources canonicalize their own URLs where they can;
    ``next_frontier`` re-canonicalizes anyway (idempotent), so hand-built
    candidate frames get the same treatment."""
    from pyspark.sql import types as T

    from hbase_observer_es_spark.operators.html_text import warc_outlinks
    from attic.operators.robots import robots_policies, sitemaps_in_robots
    from attic.operators.sitemap import warc_sitemap_urls

    links = warc_outlinks(warc_df).select(F.col("dst").alias("url"))
    locs = warc_sitemap_urls(warc_df).select(F.col("loc").alias("url"))

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _declared(texts):
        import pandas as pd

        return pd.Series([sitemaps_in_robots(t) for t in texts])

    robots_sitemaps = (
        robots_policies(warc_df)
        .select(F.explode(_declared(F.col("robots_txt"))).alias("url"))
    )
    return links.unionByName(locs).unionByName(robots_sitemaps)
