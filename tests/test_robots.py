"""robots.txt / RFC 9309 (attic/operators/robots.py): parsing, group selection,
rule precedence (including the RFC's own examples), wildcard/anchor
patterns, and the Spark host-join filter."""

from __future__ import annotations

import pytest

from attic.operators.robots import (
    filter_allowed,
    is_allowed,
    parse_robots,
    robots_policies,
)
from hbase_observer_es_spark.sources.warc import read_warc

from .warc_fixtures import http_response as _http
from .warc_fixtures import warc_record as _record


BASIC = """
# comment line
User-agent: *
Disallow: /private/
Allow: /private/ok.html

User-agent: specialbot
Disallow: /
Allow: /public/
"""


def test_group_selection_star_vs_named():
    assert is_allowed(BASIC, "anybot", "/private/x") is False
    assert is_allowed(BASIC, "anybot", "/open") is True
    # named group replaces the * group entirely for its agent
    assert is_allowed(BASIC, "SpecialBot/1.0", "/open") is False
    assert is_allowed(BASIC, "SpecialBot/1.0", "/public/page") is True


def test_longest_pattern_wins_and_allow_breaks_ties():
    # RFC 9309 §2.2.2: most octets wins
    assert is_allowed(BASIC, "anybot", "/private/ok.html") is True
    txt = "User-agent: *\nAllow: /a\nDisallow: /a"  # equal length → allow
    assert is_allowed(txt, "x", "/a/page") is True


def test_rfc_wildcard_and_anchor_patterns():
    txt = """
User-agent: *
Disallow: /*.gif$
Disallow: /tmp*
"""
    assert is_allowed(txt, "b", "/pic/a.gif") is False
    assert is_allowed(txt, "b", "/pic/a.gif?x=1") is True  # $ anchors the end
    assert is_allowed(txt, "b", "/tmpfiles/x") is False
    assert is_allowed(txt, "b", "/temp") is True


def test_empty_disallow_allows_everything():
    assert is_allowed("User-agent: *\nDisallow:", "b", "/anything") is True


def test_missing_or_empty_policy_allows():
    assert is_allowed(None, "b", "/x") is True
    assert is_allowed("", "b", "/x") is True
    assert is_allowed("Sitemap: https://x/s.xml", "b", "/x") is True


def test_robots_txt_itself_always_fetchable():
    assert is_allowed("User-agent: *\nDisallow: /", "b", "/robots.txt") is True


def test_multiple_user_agent_lines_share_one_group():
    txt = """
User-agent: alpha
User-agent: beta
Disallow: /x
"""
    assert is_allowed(txt, "alpha", "/x/1") is False
    assert is_allowed(txt, "beta", "/x/1") is False
    assert is_allowed(txt, "gamma", "/x/1") is True  # no * group: allowed


def test_longest_agent_token_wins():
    txt = """
User-agent: foo
Disallow: /a

User-agent: foobot
Disallow: /b
"""
    # 'foobot-news' matches both tokens; the longer one governs alone
    assert is_allowed(txt, "foobot-news", "/b/x") is False
    assert is_allowed(txt, "foobot-news", "/a/x") is True


def test_unknown_directives_and_case_insensitivity():
    txt = "USER-AGENT: *\nCrawl-delay: 10\nDISALLOW: /y\n"
    assert is_allowed(txt, "b", "/y/1") is False
    assert is_allowed(txt, "b", "/z") is True


def test_parse_groups_structure():
    groups = parse_robots(BASIC)
    assert len(groups) == 2
    assert groups[0][0] == ("*",)
    assert groups[1][0] == ("specialbot",)
    assert (False, "/private/") in groups[0][1]
    assert (True, "/private/ok.html") in groups[0][1]


def test_sitemap_directives_discovered():
    from attic.operators.robots import sitemaps_in_robots

    txt = """
User-agent: *
Disallow: /private/
Sitemap: HTTP://X.Example:80/sitemap.xml
User-agent: other
Sitemap: http://x.example/other.xml.gz  # trailing comment
Sitemap: http://x.example/sitemap.xml
"""
    # group-independent, canonicalized, order-preserved, deduplicated
    assert sitemaps_in_robots(txt) == [
        "http://x.example/sitemap.xml",
        "http://x.example/other.xml.gz",
    ]
    assert sitemaps_in_robots(None) == []
    assert sitemaps_in_robots("User-agent: *\nDisallow: /") == []


def test_sitemap_directive_behind_bom_is_discovered():
    """parse_robots strips the UTF-8 BOM; the sitemap scan must apply the
    SAME strip or a line-1 Sitemap: directive parses as the key
    '\\ufeffsitemap' and is silently dropped (fourth-review finding)."""
    from attic.operators.robots import sitemaps_in_robots

    txt = "﻿Sitemap: http://x.example/s.xml\nUser-agent: *\nDisallow:"
    assert sitemaps_in_robots(txt) == ["http://x.example/s.xml"]


from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    txt=st.text(
        alphabet=st.sampled_from(
            list("UserAgent:*#\nDisalow /ab$*%\t\r cRWLdEY-_.")
        ),
        max_size=300,
    ),
    path=st.text(
        alphabet=st.sampled_from(list("/ab*$%.?=")), max_size=30
    ),
)
@settings(max_examples=300, deadline=None)
def test_is_allowed_total_on_adversarial_policies(txt, path):
    """Any policy text and any path produce a boolean — never a regex
    error (patterns are escaped), never a crash on malformed lines."""
    assert is_allowed(txt, "somebot", path) in (True, False)


# ------------------------------------------------------------------ Spark side


def test_robots_policies_and_filter(spark, tmp_path):
    robots_body = b"User-agent: *\nDisallow: /private/\n"
    shard = (
        _record(
            "response",
            _http(robots_body, b"text/plain"),
            uri="http://x.example/robots.txt",
            rid="id:0",
        )
        + _record(
            "response", _http(b"<p>open</p>"),
            uri="http://x.example/open.html", rid="id:1",
        )
        + _record(
            "response", _http(b"<p>secret</p>"),
            uri="http://x.example/private/page.html", rid="id:2",
        )
        + _record(
            "response", _http(b"<p>nohost policy</p>"),
            uri="http://other.example/private/also.html", rid="id:3",
        )
    )
    (tmp_path / "t.warc").write_bytes(shard)
    warc = read_warc(spark, str(tmp_path))
    robots = robots_policies(warc)
    got = {r.host: r.robots_txt for r in robots.collect()}
    assert got == {"x.example": robots_body.decode()}

    from hbase_observer_es_spark.operators.html_text import warc_html_documents

    docs = warc_html_documents(warc)
    kept = filter_allowed(docs, robots, "trainingbot")
    assert sorted(r.source for r in kept.collect()) == [
        "http://other.example/private/also.html",  # no policy → allowed
        "http://x.example/open.html",
    ]
    assert kept.columns == docs.columns  # helper columns dropped


def test_non_root_robots_txt_is_not_the_host_policy(spark, tmp_path):
    """RFC 9309 scopes the policy to the exact path /robots.txt — a
    mirrored /old-site/robots.txt must never shadow it (review finding)."""
    shard = (
        _record(
            "response", _http(b"User-agent: *\nDisallow: /decoy\n", b"text/plain"),
            uri="http://x.example/old-site/robots.txt", rid="id:0",
        )
        + _record(
            "response", _http(b"User-agent: *\nDisallow: /real\n", b"text/plain"),
            uri="http://x.example/robots.txt", rid="id:1",
        )
    )
    (tmp_path / "t.warc").write_bytes(shard)
    rows = robots_policies(read_warc(spark, str(tmp_path))).collect()
    assert len(rows) == 1 and "/real" in rows[0].robots_txt


def test_port_spelling_cannot_bypass_the_filter(spark, tmp_path):
    """robots fetched at x.example, document sourced at x.example:80 — the
    canonical host key must still join them (review finding)."""
    from pyspark.sql import types as T

    shard = _record(
        "response", _http(b"User-agent: *\nDisallow: /private/\n", b"text/plain"),
        uri="http://x.example/robots.txt", rid="id:0",
    )
    (tmp_path / "t.warc").write_bytes(shard)
    robots = robots_policies(read_warc(spark, str(tmp_path)))
    docs = spark.createDataFrame(
        [(1, "http://x.example:80/private/p"), (2, "http://x.example:80/open")],
        T.StructType([
            T.StructField("doc_id", T.LongType()),
            T.StructField("source", T.StringType()),
        ]),
    )
    kept = filter_allowed(docs, robots, "bot")
    assert [r.doc_id for r in kept.collect()] == [2]


def test_duplicate_robots_fetches_pick_deterministic_record(spark, tmp_path):
    shard = (
        _record(
            "response", _http(b"User-agent: *\nDisallow: /a\n", b"text/plain"),
            uri="http://x.example/robots.txt", rid="id:1",
        )
        + _record(
            "response", _http(b"User-agent: *\nDisallow: /b\n", b"text/plain"),
            uri="http://x.example/robots.txt", rid="id:2",
        )
    )
    (tmp_path / "t.warc").write_bytes(shard)
    rows = robots_policies(read_warc(spark, str(tmp_path))).collect()
    assert len(rows) == 1 and "/a" in rows[0].robots_txt
