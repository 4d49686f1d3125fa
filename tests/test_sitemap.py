"""Sitemap protocol (attic/operators/sitemap.py): urlset/sitemapindex parsing,
CDATA/entities, gzip bodies, and the WARC frame extraction."""

from __future__ import annotations

import gzip

from attic.operators.sitemap import (
    parse_sitemap,
    warc_sitemap_urls,
)
from hbase_observer_es_spark.sources.warc import read_warc

from .warc_fixtures import http_response as _http
from .warc_fixtures import warc_record as _record

_URLSET = b"""<?xml version="1.0" encoding="UTF-8"?>
<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
  <url><loc>http://x.example/a</loc><lastmod>2024-01-02</lastmod></url>
  <url><loc> http://x.example/b?p=1&amp;q=2 </loc></url>
  <url><loc><![CDATA[http://x.example/c d]]></loc></url>
  <url><priority>0.5</priority></url>
</urlset>
"""


def test_urlset_parsing_entities_cdata_and_optional_fields():
    kind, entries = parse_sitemap(_URLSET)
    assert kind == "urlset"
    assert entries == [
        ("http://x.example/a", "2024-01-02"),
        ("http://x.example/b?p=1&q=2", None),
        ("http://x.example/c d", None),
    ]  # the loc-less <url> block is skipped


def test_sitemapindex_parsing():
    body = (
        b'<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<sitemap><loc>http://x.example/sm1.xml</loc>"
        b"<lastmod>2024-02-03</lastmod></sitemap>"
        b"<sitemap><loc>http://x.example/sm2.xml.gz</loc></sitemap>"
        b"</sitemapindex>"
    )
    kind, entries = parse_sitemap(body)
    assert kind == "sitemapindex"
    assert entries == [
        ("http://x.example/sm1.xml", "2024-02-03"),
        ("http://x.example/sm2.xml.gz", None),
    ]


def test_gzipped_sitemap_body():
    kind, entries = parse_sitemap(gzip.compress(_URLSET))
    assert kind == "urlset" and len(entries) == 3


def test_non_sitemap_and_corrupt_gzip_yield_nothing():
    assert parse_sitemap(b"<html><body>nope</body></html>") == ("", [])
    assert parse_sitemap(b"\x1f\x8bnot really gzip") == ("", [])


def test_no_entity_expansion_blowup():
    """A billion-laughs-style DTD must not expand — the regex extractor
    never resolves custom entities (they surface verbatim)."""
    bomb = (
        b'<?xml version="1.0"?><!DOCTYPE lolz [<!ENTITY a "ha"><!ENTITY b "&a;&a;">]>'
        b"<urlset><url><loc>http://x.example/&b;</loc></url></urlset>"
    )
    kind, entries = parse_sitemap(bomb)
    assert kind == "urlset"
    assert entries == [("http://x.example/&b;", None)]


def test_truncated_and_midstream_corrupt_gzip_yield_nothing():
    """gzip raises THREE disjoint exception types (BadGzipFile/EOFError/
    zlib.error); every one must fail soft, not crash the task."""
    blob = gzip.compress(_URLSET)
    assert parse_sitemap(blob[:20]) == ("", [])  # truncated → EOFError
    corrupt = blob[:12] + bytes(b ^ 0xFF for b in blob[12:20]) + blob[20:]
    assert parse_sitemap(corrupt) == ("", [])  # mid-stream → zlib.error


def test_raw_ampersand_urls_survive_unescaping():
    """Only the five XML entities decode — html.unescape would turn the
    semicolon-less HTML5 name in '&notify=' into '¬ify=' (review find)."""
    body = (
        b"<urlset><url><loc>http://x.example/?a=1&notify=true&copy=3</loc>"
        b"</url></urlset>"
    )
    _, entries = parse_sitemap(body)
    assert entries == [("http://x.example/?a=1&notify=true&copy=3", None)]


def test_numeric_charrefs_decode():
    body = b"<urlset><url><loc>http://x.example/&#97;&#x42;</loc></url></urlset>"
    assert parse_sitemap(body)[1] == [("http://x.example/aB", None)]


def test_namespace_prefixed_tags_parse():
    """ElementTree's default serialization emits <ns0:urlset> — prefixed
    sitemaps must parse identically to bare ones (review finding)."""
    body = (
        b'<ns0:urlset xmlns:ns0="http://www.sitemaps.org/schemas/sitemap/0.9">'
        b"<ns0:url><ns0:loc>http://x.example/p</ns0:loc>"
        b"<ns0:lastmod>2024-03-04</ns0:lastmod></ns0:url></ns0:urlset>"
    )
    assert parse_sitemap(body) == ("urlset", [("http://x.example/p", "2024-03-04")])


def test_comment_mentioning_index_does_not_misclassify():
    body = (
        b"<!-- this used to be a <sitemapindex> document -->"
        b"<urlset><url><loc>http://x.example/r</loc></url></urlset>"
    )
    assert parse_sitemap(body) == ("urlset", [("http://x.example/r", None)])


def test_large_preamble_before_root_still_parses():
    body = (
        b"<!-- pad -->" * 600  # > 4096 bytes of preamble
        + b"<urlset><url><loc>http://x.example/deep</loc></url></urlset>"
    )
    assert parse_sitemap(body) == ("urlset", [("http://x.example/deep", None)])


def test_out_of_range_charrefs_become_replacement_not_crash():
    """chr() crashes past 0x10FFFF, a lone surrogate dies later at the
    Arrow boundary, and a >4300-digit charref trips Python's int() digit
    limit — all three must degrade to U+FFFD, never a task crash
    (fourth-review finding)."""
    for ref in (b"&#1114112;", b"&#x110000;", b"&#xD800;", b"&#" + b"9" * 5000 + b";"):
        body = b"<urlset><url><loc>http://x.example/" + ref + b"</loc></url></urlset>"
        kind, entries = parse_sitemap(body)
        assert kind == "urlset"
        assert entries[0][0].endswith("�")
        entries[0][0].encode("utf-8")  # Arrow-safe


def test_cdata_preserves_literal_comment_markers():
    """CDATA content is character data per XML: '<!--b-->' inside a
    CDATA-wrapped loc is literal text, so the comment pass must not delete
    it (fourth-review finding — regression from the comment-strip fix)."""
    body = (
        b"<urlset><url><loc><![CDATA[http://x.example/a<!--b-->c]]></loc>"
        b"</url></urlset>"
    )
    assert parse_sitemap(body)[1] == [("http://x.example/a<!--b-->c", None)]


def test_root_hidden_past_probe_by_giant_comment_still_parses():
    """The 64 KB detection probe falls through to a full scan when a
    comment opened inside the probe is still unterminated at the cut."""
    body = (
        b"<!-- " + b"x" * 70_000 + b" -->"
        b"<urlset><url><loc>http://x.example/far</loc></url></urlset>"
    )
    assert parse_sitemap(body) == ("urlset", [("http://x.example/far", None)])


def test_non_sitemap_with_no_root_in_probe_is_rejected():
    """An ordinary large HTML page (comments closed, no root tag in the
    first 64 KB) is rejected by the bounded probe — the documented
    detection bound that keeps parse_sitemap callable per response record."""
    body = b"<html><body>" + b"<p>hi</p><!-- c -->" * 8000 + b"</body></html>"
    assert len(body) > 65536
    assert parse_sitemap(body) == ("", [])


from hypothesis import given, settings
from hypothesis import strategies as st


@given(body=st.binary(max_size=300))
@settings(max_examples=300, deadline=None)
def test_parse_sitemap_total_on_adversarial_bytes(body):
    kind, entries = parse_sitemap(body)
    assert kind in ("", "urlset", "sitemapindex")
    assert all(isinstance(loc, str) for loc, _ in entries)


@given(
    body=st.text(
        alphabet=st.sampled_from(list("<>&;#x/urlsetmapindx oc!-[]CDAT0129%\r\n")),
        max_size=200,
    )
)
@settings(max_examples=300, deadline=None)
def test_parse_sitemap_total_on_markup_soup(body):
    kind, entries = parse_sitemap(body.encode())
    assert isinstance(entries, list)


def test_warc_sitemap_extraction_canonicalizes(spark, tmp_path):
    body = (
        b"<urlset><url><loc>HTTP://X.Example:80/a/../b</loc></url></urlset>"
    )
    shard = (
        _record(
            "response", _http(body, b"application/xml"),
            uri="http://x.example/sitemap.xml", rid="id:0",
        )
        + _record(
            "response", _http(b"<p>just a page</p>"),
            uri="http://x.example/page", rid="id:1",
        )
    )
    (tmp_path / "t.warc").write_bytes(shard)
    rows = warc_sitemap_urls(read_warc(spark, str(tmp_path))).collect()
    assert [(r.sitemap_uri, r.kind, r.loc, r.lastmod) for r in rows] == [
        ("http://x.example/sitemap.xml", "urlset", "http://x.example/b", None)
    ]
