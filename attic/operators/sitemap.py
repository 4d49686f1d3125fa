"""Sitemap protocol (sitemaps.org, the public XML format) — URL discovery
for the crawl ladder.

Sitemaps enumerate a site's canonical URLs (with optional last-modified
stamps), and a crawl pipeline uses them for frontier seeding, freshness
(re-fetch what changed), and coverage auditing (crawled vs declared).
Both document kinds are handled: ``<urlset>`` (leaf) and ``<sitemapindex>``
(pointers to child sitemaps).

Parsing is REGEX-based over the decoded text, deliberately NOT an XML
parser: crawl-scale sitemap files are untrusted input, and stdlib
``xml.etree`` expands entities (billion-laughs class) with no hardening
switch in this environment; the protocol's schema is flat and fixed
(``url/loc/lastmod``), which a tolerant regex covers without any entity
expansion at all. The five XML predefined entities and CDATA wrapping in
``<loc>`` are handled explicitly. Extracted URLs are RFC-3986-canonicalized
(``operators/urlnorm.py``) so they key against the link graph and the
documents table directly.

Gzip: ``.xml.gz`` sitemaps are served as already-compressed bodies (not
``Content-Encoding``-marked), so the body is gunzipped by sniffing the
magic bytes after the HTTP envelope is removed.

Scale posture: map-only — one Arrow-batched fan-out UDF over response
payloads, no shuffle; a 50k-URL sitemap (the protocol's own cap) expands
inside one task.
"""

from __future__ import annotations

import gzip
import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# namespace-prefixed tags (<ns0:urlset>, ElementTree's own default
# serialization) must parse identically to bare ones
_PRE = rb"(?:[A-Za-z0-9_.\-]+:)?"
_URL_BLOCK = re.compile(
    rb"<" + _PRE + rb"url\b[^>]*>(.*?)</" + _PRE + rb"url\s*>",
    re.DOTALL | re.IGNORECASE,
)
_CHILD_BLOCK = re.compile(
    rb"<" + _PRE + rb"sitemap\b[^>]*>(.*?)</" + _PRE + rb"sitemap\s*>",
    re.DOTALL | re.IGNORECASE,
)
_LOC = re.compile(
    rb"<" + _PRE + rb"loc\s*>(.*?)</" + _PRE + rb"loc\s*>",
    re.DOTALL | re.IGNORECASE,
)
_LASTMOD = re.compile(
    rb"<" + _PRE + rb"lastmod\s*>(.*?)</" + _PRE + rb"lastmod\s*>",
    re.DOTALL | re.IGNORECASE,
)
_CDATA = re.compile(rb"^\s*<!\[CDATA\[(.*?)\]\]>\s*$", re.DOTALL)
_CDATA_SECT = re.compile(rb"<!\[CDATA\[.*?\]\]>", re.DOTALL)
_COMMENT = re.compile(rb"<!--.*?-->", re.DOTALL)


def _strip_comments(body: bytes) -> bytes:
    """Comment removal that leaves CDATA sections intact: per XML, ``<!--``
    inside CDATA is character data, not a comment — a global sub would
    delete literal text from a CDATA-wrapped ``<loc>``. Comments are
    subbed only in the gaps between CDATA sections."""
    if b"<![CDATA[" not in body:
        return _COMMENT.sub(b"", body)
    out: list[bytes] = []
    pos = 0
    for m in _CDATA_SECT.finditer(body):
        out.append(_COMMENT.sub(b"", body[pos : m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(_COMMENT.sub(b"", body[pos:]))
    return b"".join(out)
_ROOT = re.compile(
    rb"<" + _PRE + rb"(urlset|sitemapindex)[\s>]", re.IGNORECASE
)
# ONLY the five XML predefined entities plus numeric charrefs —
# html.unescape would also decode ~2000 HTML5 names including
# semicolon-less ones ('&notify' → '¬ify'), corrupting the raw-ampersand
# URLs a tolerant sitemap parser exists to survive (round-10 review)
_ENTITY = re.compile(r"&(amp|lt|gt|quot|apos);|&#(\d+);|&#x([0-9a-fA-F]+);")
_NAMED = {"amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'"}


def _unescape_xml(s: str) -> str:
    def sub(m: re.Match) -> str:
        if m.group(1):
            return _NAMED[m.group(1)]
        try:
            cp = int(m.group(2)) if m.group(2) else int(m.group(3), 16)
        except ValueError:  # > sys.int_info digit limit on absurd charrefs
            return "�"
        if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
            # out-of-range crashes chr(); a lone surrogate decodes but then
            # fails UTF-8 encoding at the pandas→Arrow boundary — both
            # become U+FFFD so one malformed charref in a crawled sitemap
            # can never kill the task
            return "�"
        return chr(cp)

    return _ENTITY.sub(sub, s)


def _text(raw: bytes) -> str:
    m = _CDATA.match(raw)
    if m:
        raw = m.group(1)
    return _unescape_xml(raw.decode("utf-8", errors="replace").strip())


def parse_sitemap(body: bytes) -> tuple[str, list[tuple[str, str | None]]]:
    """One sitemap document → (kind, entries); kind is ``urlset`` or
    ``sitemapindex``; entries are (loc, lastmod-or-None) in document
    order. Gzipped bodies are transparently decompressed (any corruption —
    bad magic, truncation, mid-stream damage — returns ("", []), never a
    task crash); comments are stripped (CDATA-aware) before any matching so
    commented-out markup can neither misclassify the root nor contribute
    entries; a document with neither root tag returns ("", []).

    Detection bound: the root tag must appear (outside comments) within the
    first 64 KB — real sitemaps open with it in the first few hundred bytes.
    The bound is what keeps this callable over EVERY response record in a
    WARC shard: an ordinary multi-MB HTML page is rejected by a
    comment-stripped 64 KB probe without paying a full-body pass; only a
    comment left unterminated at the probe cut (a giant commented preamble
    can hide the root past it) falls through to the full scan."""
    if body[:2] == b"\x1f\x8b":
        try:
            body = gzip.decompress(body)
        except (OSError, EOFError, zlib.error):
            # gzip raises THREE disjoint types: BadGzipFile (an OSError)
            # for bad magic, EOFError for truncation, zlib.error for
            # mid-stream corruption — catching only OSError would crash
            # the task on a cut-off crawl fetch (round-10 review)
            return "", []
    probe = _COMMENT.sub(b"", body[:65536])
    if _ROOT.search(probe) is None and b"<!--" not in probe:
        return "", []
    body = _strip_comments(body)
    root = _ROOT.search(body)
    if root is None:
        return "", []
    kind = root.group(1).lower().decode("ascii")
    block = _CHILD_BLOCK if kind == "sitemapindex" else _URL_BLOCK
    entries: list[tuple[str, str | None]] = []
    for m in block.finditer(body):
        chunk = m.group(1)
        loc = _LOC.search(chunk)
        if not loc:
            continue
        lm = _LASTMOD.search(chunk)
        entries.append((_text(loc.group(1)), _text(lm.group(1)) if lm else None))
    return kind, entries


SITEMAP_SCHEMA = T.StructType(
    [
        T.StructField("sitemap_uri", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("loc", T.StringType()),
        T.StructField("lastmod", T.StringType()),
    ]
)


def warc_sitemap_urls(warc_df: DataFrame) -> DataFrame:
    """``response`` records that ARE sitemaps → one row per declared URL
    (or child sitemap), kind-tagged, locs canonicalized. Detection is by
    document content (the root tag), not by path convention — sitemaps
    live wherever robots.txt points."""
    from hbase_observer_es_spark.sources.warc import http_message
    from hbase_observer_es_spark.operators.urlnorm import canonical_url

    src_df = warc_df.filter(F.col("warc_type") == "response").select(
        "target_uri", "payload"
    )

    def expand(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for uri, payload in zip(pdf["target_uri"], pdf["payload"]):
                if uri is None or payload is None:
                    continue  # a URI-less record cannot key coverage audits
                msg = http_message(bytes(payload))
                body = msg[1] if msg else bytes(payload)
                kind, entries = parse_sitemap(body)
                for loc, lastmod in entries:
                    rows.append(
                        {
                            "sitemap_uri": uri,
                            "kind": kind,
                            "loc": canonical_url(loc),
                            "lastmod": lastmod,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["sitemap_uri", "kind", "loc", "lastmod"]
            )

    return src_df.mapInPandas(expand, schema=SITEMAP_SCHEMA)
