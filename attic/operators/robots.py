"""robots.txt (Robots Exclusion Protocol, RFC 9309) — parsing and matching,
implemented from the public RFC with no external library.

Completes the crawl-compliance trio: per-page robots META and per-link
``rel=nofollow`` are honored inside ``operators/html_text.py``; this module
adds the per-HOST policy file, so a corpus pipeline can re-check fetch
permission at ingest time (publishers tighten policies after a crawl, and
AI-use opt-outs are expressed here).

Semantics implemented (RFC 9309, with the de-facto clarifications every
major crawler documents):

* **Groups**: consecutive ``User-agent:`` lines share the rule block that
  follows. Group selection is case-insensitive; the group whose product
  token is the LONGEST prefix of the caller's user agent wins, with ``*``
  as the fallback. All groups with the winning token merge.
* **Rule precedence**: the matching rule with the MOST OCTETS in its
  pattern wins (§2.2.2); an allow/disallow tie at equal length resolves to
  ALLOW. No matching rule → allowed. An empty ``Disallow:`` value matches
  nothing (allow all).
* **Patterns**: ``*`` matches any octet sequence, ``$`` anchors the end;
  everything else is literal. Paths compare case-sensitively, directives
  case-insensitively; ``#`` starts a comment; unknown directives
  (``Crawl-delay`` etc.) are ignored per the RFC's extensibility rule.
* ``/robots.txt`` itself is always allowed (§2.3).

Scale posture: parsing is driver-free and pure; ``filter_allowed`` joins
documents to their host's policy (one shuffle on host) and evaluates the
matcher inside an Arrow-batched UDF with an LRU-cached parse — hosts
repeat heavily within a partition, so each policy parses once per
executor, not once per row.
"""

from __future__ import annotations

import re
from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

Rule = tuple[bool, str]  # (is_allow, pattern)
Group = tuple[tuple[str, ...], tuple[Rule, ...]]  # (agent tokens, rules)


def parse_robots(text: str) -> tuple[Group, ...]:
    """robots.txt → groups of (agent tokens, ordered rules). Tolerant of
    the syntax found in the wild: BOM, comments, blank lines, unknown
    directives, missing values."""
    groups: list[tuple[list[str], list[Rule]]] = []
    agents: list[str] = []
    rules: list[Rule] = []
    collecting_agents = True
    text = text.lstrip('\ufeff')
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if not collecting_agents:
                groups.append((agents, rules))
                agents, rules = [], []
            collecting_agents = True
            if value:
                agents.append(value)
        elif key in ("allow", "disallow"):
            if agents:
                collecting_agents = False
                if value:  # empty value matches nothing per the RFC
                    rules.append((key == "allow", value))
                elif key == "disallow":
                    pass  # "Disallow:" == allow all: no rule
        # unknown directives (sitemap, crawl-delay, ...) are ignored
    if agents:
        groups.append((agents, rules))
    return tuple((tuple(a), tuple(r)) for a, r in groups)


def sitemaps_in_robots(text: str | None) -> list[str]:
    """The ``Sitemap:`` directives a robots.txt declares (RFC 9309 §2.2.4
    treats them as 'other records'; sitemaps.org defines the semantics) —
    the discovery link from the per-host policy to ``attic/operators/sitemap.py``.
    Group-independent per the protocol: a Sitemap line applies regardless
    of which user-agent block surrounds it. Canonicalized, order-preserved,
    de-duplicated."""
    if not text:
        return []
    from hbase_observer_es_spark.operators.urlnorm import canonical_url

    out: list[str] = []
    seen: set[str] = set()
    # same BOM strip as parse_robots — a line-1 'Sitemap:' directive behind
    # a UTF-8 BOM must not parse as the key '﻿sitemap'
    for raw in text.lstrip('\ufeff').splitlines():
        line = raw.split("#", 1)[0].strip()
        key, _, value = line.partition(":")
        if key.strip().lower() == "sitemap" and value.strip():
            u = canonical_url(value.strip())
            if u not in seen:
                seen.add(u)
                out.append(u)
    return out


def _rules_for_agent(groups: tuple[Group, ...], user_agent: str) -> tuple[Rule, ...]:
    """Longest matching product-token prefix wins; all groups at the
    winning length merge; ``*`` groups apply only when nothing matched."""
    ua = user_agent.lower()
    scored: list[tuple[int, tuple[Rule, ...]]] = []
    for agents, rules in groups:
        lens = [
            len(t)
            for t in (tok.lower() for tok in agents)
            if t != "*" and ua.startswith(t)
        ]
        if lens:
            scored.append((max(lens), rules))
    merged: list[Rule] = []
    if scored:
        best = max(s for s, _ in scored)
        for s, rules in scored:
            if s == best:
                merged.extend(rules)
        return tuple(merged)
    for agents, rules in groups:
        if any(tok == "*" for tok in agents):
            merged.extend(rules)
    return tuple(merged)


@lru_cache(maxsize=4096)
def _pattern_re(pattern: str) -> re.Pattern:
    parts = [re.escape(p) for p in pattern.split("*")]
    body = ".*".join(parts)
    if body.endswith(re.escape("$")):
        body = body[: -len(re.escape("$"))] + "$"
    return re.compile("^" + body)


def is_allowed(robots_txt: str | None, user_agent: str, path: str) -> bool:
    """True when ``user_agent`` may fetch ``path`` under this policy. A
    missing/empty policy allows everything (the no-robots.txt default)."""
    if not robots_txt:
        return True
    if path == "/robots.txt":
        return True
    if not path.startswith("/"):
        path = "/" + path
    rules = _rules_for_agent(_parse_cached(robots_txt), user_agent)
    # most octets in the PATTERN wins (§2.2.2); an equal-length tie → allow
    best, verdict = -1, True
    for allow, pattern in rules:
        if _pattern_re(pattern).match(path):
            n = len(pattern)
            if n > best:
                best, verdict = n, allow
            elif n == best and allow:
                verdict = True
    return verdict


@lru_cache(maxsize=1024)
def _parse_cached(text: str) -> tuple[Group, ...]:
    return parse_robots(text)


# ---------------------------------------------------------------- Spark side


def _host_key(url: str | None) -> str | None:
    """The join key both sides of the robots filter share: host (and any
    NON-default port) of the RFC-3986-CANONICAL url, userinfo stripped.
    Raw ``urlsplit().netloc`` would make 'x.example' and 'x.example:80'
    distinct keys and let spec-equivalent spellings bypass the policy
    (round-10 second-review finding)."""
    if not url:
        return None
    from urllib.parse import urlsplit

    from hbase_observer_es_spark.operators.urlnorm import canonical_url

    return urlsplit(canonical_url(url)).netloc.rsplit("@", 1)[-1]


def _robots_path(url: str | None) -> bool:
    """RFC 9309 scopes the policy to the PATH '/robots.txt' exactly — an
    endswith match would let /blog/robots.txt shadow the host policy."""
    if not url:
        return False
    from urllib.parse import urlsplit

    return urlsplit(url).path == "/robots.txt"


def robots_policies(warc_df: DataFrame) -> DataFrame:
    """(host, robots_txt) from a WARC frame's ``/robots.txt`` responses —
    the path matched EXACTLY per RFC 9309 §2.3, decoded via the HTTP
    envelope (chunked/gzip handled), keyed by canonical host. One row per
    host; duplicate fetches keep the lexicographically-first record id for
    determinism."""
    from hbase_observer_es_spark.sources.warc import http_message

    cand = warc_df.filter(F.col("warc_type") == "response").select(
        "record_id", "target_uri", "payload"
    )

    @F.pandas_udf(T.StringType())
    def _body(s):
        import pandas as pd

        def one(b):
            if b is None:
                return None
            msg = http_message(bytes(b))
            body = msg[1] if msg else bytes(b)
            return body.decode("utf-8", errors="replace")

        return pd.Series([one(b) for b in s])

    is_robots = F.udf(_robots_path, T.BooleanType())
    host = host_key_udf
    with_host = cand.filter(is_robots("target_uri")).select(
        host("target_uri").alias("host"),
        _body(F.col("payload")).alias("robots_txt"),
        "record_id",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("host").orderBy("record_id")
    return (
        with_host.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("host", "robots_txt")
    )


def host_key_udf(url: Column) -> Column:
    """Arrow-batched column form of ``_host_key`` — the one host-extraction
    path every robots consumer shares (row-at-a-time ``F.udf`` here was a
    round-10 review finding: the planner runs this over every candidate
    URL)."""

    @F.pandas_udf(T.StringType())
    def _f(urls):
        import pandas as pd

        return pd.Series([_host_key(u) for u in urls])

    return _f(url)


def filter_allowed(
    docs: DataFrame,
    robots: DataFrame,
    user_agent: str,
    url_col: str = "source",
    keep_host: str | None = None,
) -> DataFrame:
    """Keep only documents whose URL the host's robots policy allows for
    ``user_agent``. ``robots`` is the (host, robots_txt) frame from
    ``robots_policies``; hosts with no policy row allow everything. One
    shuffle (left join on host); the matcher runs Arrow-batched with
    LRU-cached parses. Both sides key on the CANONICAL host
    (``_host_key``), so ':80' spellings cannot bypass the policy.
    ``keep_host`` names an output column to retain the computed canonical
    host under (callers like the frontier planner need it anyway —
    recomputing it downstream would re-parse every URL)."""
    from urllib.parse import urlsplit

    host = host_key_udf

    @F.pandas_udf(T.BooleanType())
    def _allowed(urls, policies):
        import pandas as pd

        out = []
        for u, p in zip(urls, policies):
            if u is None:
                out.append(False)
                continue
            sp = urlsplit(u)
            path = sp.path or "/"
            if sp.query:
                path += "?" + sp.query
            out.append(is_allowed(p, user_agent, path))
        return pd.Series(out)

    joined = docs.withColumn("__host", host(F.col(url_col))).join(
        robots.withColumnRenamed("host", "__host"), "__host", "left"
    )
    out = joined.filter(_allowed(F.col(url_col), F.col("robots_txt"))).drop(
        "robots_txt"
    )
    if keep_host is not None:
        return out.withColumnRenamed("__host", keep_host)
    return out.drop("__host")
