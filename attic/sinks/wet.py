"""WET publication sink — extracted text as WARC ``conversion`` records.

``operators/html_text.warc_html_documents`` turns crawl shards into
``documents``-shaped rows; this module closes the loop in the OTHER
direction: it publishes such rows back out as WET shards — the
``.warc.gz``-of-``conversion``-records layout Common Crawl itself uses to
distribute extracted text — so a corpus curated here can be consumed by any
WARC-speaking tool, and re-ingested by ``sources/warc.py`` without a
special-case reader.

Format (ISO 28500, same container as ``sources/warc.py`` parses): each shard
opens with one ``warcinfo`` record describing the file, followed by one
``conversion`` record per document::

    WARC/1.0
    WARC-Type: conversion
    WARC-Target-URI: <uri>
    WARC-Date: <ISO-8601>
    WARC-Record-ID: <urn:uuid:...>
    [WARC-Refers-To: <source record id>]
    Content-Type: text/plain
    Content-Length: <utf-8 byte count>

    <text bytes>

Every record is its OWN gzip member (the Common Crawl layout): a streaming
consumer can resynchronize at member boundaries without decompressing the
whole shard, and a range request can serve one record.

Determinism — the publication contract of ``attic/sinks/dataset_export.py``:

* Shard membership is ``pmod(xxhash64(uri), n_shards)`` — a pure function of
  the data, so a re-export lands every document in the same shard and
  re-publications are diffable shard-by-shard.
* Within a shard, records sort by ``(uri, date, text, refers_to)`` — every
  field a record's bytes are built from, so the order is total over the
  output and never depends on arrival order, even for rows that tie on URI
  and date.
* ``WARC-Record-ID`` is ``uuid5(NAMESPACE_URL, uri\\ndate\\ntext)`` — RFC
  4122 name-based, no RNG, and content-dependent: two documents that differ
  only in text get DISTINCT ids (so a consumer keying on
  ``(uri, record_id)`` never conflates them); records identical in all
  three fields are byte-identical and legitimately share identity.
  ``WARC-Date`` comes from the caller's date column (or a fixed documented
  default), never from the wall clock; gzip members are written with
  ``mtime=0``. A re-run is byte-identical, which the tests pin.
* A re-export OVERWRITES — but only at COMMIT time: shards assemble under a
  hidden ``_staging/`` subdirectory (invisible to every Spark/Hadoop reader
  by the underscore convention), and only after every task has succeeded
  does the driver remove the prior ``*.warc.gz`` set and move the new one
  into place. A shrink of ``n_shards`` therefore cannot leave ghost shards
  for ``read_wet`` to re-ingest, AND a failed or mid-write-rejected export
  leaves the prior publication intact — the same two guarantees the CSV
  sink's staged commit provides, here per-directory. The protocol itself
  lives in ``attic/sinks/staging.py``, shared verbatim with the WebDataset sink.

Scale posture: ONE shuffle (repartition on the shard id), then each shard is
assembled and written by its own task — no row bytes ever reach the driver;
the driver sees one STATS row per shard, from which it writes
``_MANIFEST.json`` (counts + order-independent multiset fingerprint per
shard, the ``dataset_export`` vocabulary). A shard must fit an executor's
memory — the same published ~1 GB operating point as the WARC SOURCE's
one-task-per-shard contract (``sources/warc.py`` docstring); size
``n_shards`` accordingly. Like ``sources/csvsrc.write_csv``, ``path`` must
be on a filesystem every executor AND the driver can reach at the same
mount (local or network-posix); object stores would need a committer this
sink deliberately does not grow.

``verify_wet`` is the consumer-side gate: it re-reads the PUBLISHED shards
with the fail-loud WARC parser and recomputes counts and fingerprints from
the bytes on disk, failing loudly on any divergence from the manifest.

Reference parity note: the reference engine (HbaseDataSyncEsObserver.java)
has no publication surface at all — this module exists for the
LLM-data-pipeline story (crawl in → curate → publish), not A1-A14 parity.
"""

from __future__ import annotations

import gzip
import io
import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hbase_observer_es_spark.sources.warc import parse_warc_bytes, _maybe_gunzip
from attic.sinks.staging import commit_staged, prepare_staging, stage_blob

MANIFEST = "_MANIFEST.json"

# WARC-Date when the caller's frame carries none: the Unix epoch, the
# conventional "no capture time recorded" sentinel — NEVER the wall clock
# (a re-export must be byte-identical).
DEFAULT_DATE = "1970-01-01T00:00:00Z"

_SHARD = "__shard"
_MOD = 1 << 64

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("records", T.LongType()),
        T.StructField("bytes", T.LongType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("sha256", T.StringType()),
    ]
)


def _record_id(uri: str, date: str, text: str = "") -> str:
    """RFC 4122 name-based (uuid5) id — deterministic, no RNG, and
    content-dependent (module docstring): documents differing only in text
    must not share an id."""
    nl = chr(10)
    return f"<urn:uuid:{uuid.uuid5(uuid.NAMESPACE_URL, uri + nl + date + nl + text)}>"


def _warc_record(headers: list[tuple[str, str]], payload: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode("utf-8") for k, v in headers
    )
    return (
        head
        + f"Content-Length: {len(payload)}\r\n\r\n".encode("ascii")
        + payload
        + b"\r\n\r\n"
    )


def _gzip_member(record: bytes) -> bytes:
    """One record, one gzip member, mtime pinned to 0 for byte-determinism."""
    buf = io.BytesIO()
    with gzip.GzipFile(fileobj=buf, mode="wb", filename="", mtime=0) as gz:
        gz.write(record)
    return buf.getvalue()


def _warcinfo(shard_file: str, date: str, n_records: int) -> bytes:
    payload = (
        "software: hbase-observer-es-spark wet sink\r\n"
        "format: WARC File Format 1.0\r\n"
        f"conversion-records: {n_records}\r\n"
    ).encode("utf-8")
    return _warc_record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Date", date),
            ("WARC-Record-ID", _record_id("warcinfo:" + shard_file, date)),
            ("WARC-Filename", shard_file),
            ("Content-Type", "application/warc-fields"),
        ],
        payload,
    )


def _shard_name(shard: int, n_shards: int) -> str:
    # %05d covers the documented operating point (tens of thousands of
    # shards); wider counts keep working, the names just stop aligning
    return f"part-{shard:05d}-of-{n_shards:05d}.warc.gz"


def write_wet(
    df: DataFrame,
    path: str,
    n_shards: int,
    uri_col: str = "source",
    text_col: str = "text",
    date_col: str | None = None,
    refers_to_col: str | None = None,
) -> dict:
    """Publish ``df`` as ``n_shards`` WET shards under ``path`` and return
    the manifest dict (also written as ``_MANIFEST.json``).

    Fail-loud contract: a NULL uri or NULL text row kills the export (a
    publication must be explicit about every byte it ships; filter upstream
    if absent text is expected), and so does a uri/date/refers_to value
    containing CR or LF — those land on WARC HEADER lines, where an embedded
    newline is header injection, not data. Text itself is length-prefixed
    payload and may contain anything. Duplicate ``(uri, date)`` pairs are
    legal (ids are content-dependent, so only byte-identical records share
    one), and the fingerprint is multiset-sensitive so true duplicates are
    not silently conflated.
    """
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    for c in (uri_col, text_col, date_col, refers_to_col):
        if c is not None and c not in df.columns:
            raise ValueError(f"WET sink: column {c!r} not in {df.columns}")

    null_msg = F.lit(
        f"WET sink: NULL {uri_col!r}/{text_col!r} value — a publication "
        "must be explicit about every byte it ships; filter upstream"
    )
    uri = F.col(uri_col).cast("string")
    text = F.col(text_col).cast("string")
    date = (
        F.coalesce(F.col(date_col).cast("string"), F.lit(DEFAULT_DATE))
        if date_col
        else F.lit(DEFAULT_DATE)
    )
    refers = (
        F.col(refers_to_col).cast("string")
        if refers_to_col
        else F.lit(None).cast("string")
    )

    def _no_header_injection(c, what: str):
        # header-line values: an embedded CR/LF would inject a header or
        # break record framing — fail loudly in the same fused projection
        msg = F.lit(
            f"WET sink: {what} value contains CR/LF — WARC header lines "
            "cannot carry embedded newlines; clean upstream"
        )
        return F.when(
            c.contains("\r") | c.contains("\n"), F.raise_error(msg)
        ).otherwise(c)

    rows = df.select(
        F.when(uri.isNull() | text.isNull(), F.raise_error(null_msg))
        .otherwise(_no_header_injection(uri, uri_col))
        .alias("uri"),
        text.alias("text"),
        _no_header_injection(date, date_col or "date").alias("date"),
        _no_header_injection(refers, refers_to_col or "refers_to").alias(
            "refers_to"
        ),
    ).withColumn(_SHARD, F.pmod(F.xxhash64(F.col("uri")), F.lit(n_shards)))

    staging_dir = prepare_staging(path)

    def write_shards(pdf):
        # one pandas group per shard id: assemble the member stream in task
        # memory (the ~1 GB shard operating point) and commit via a staged
        # rename so a failed task never leaves a half shard behind
        import hashlib

        import pandas as pd

        shard = int(pdf[_SHARD].iloc[0])
        name = _shard_name(shard, n_shards)
        # na_position pinned: refers_to is the only nullable sort field
        ordered = pdf.sort_values(
            ["uri", "date", "text", "refers_to"],
            kind="mergesort",
            na_position="first",
        )
        members = []
        fp = 0
        for uri_v, text_v, date_v, ref_v in zip(
            ordered["uri"], ordered["text"], ordered["date"], ordered["refers_to"]
        ):
            payload = text_v.encode("utf-8")
            headers = [
                ("WARC-Type", "conversion"),
                ("WARC-Target-URI", uri_v),
                ("WARC-Date", date_v),
                ("WARC-Record-ID", _record_id(uri_v, date_v, text_v)),
            ]
            if ref_v is not None and not pd.isna(ref_v):
                headers.append(("WARC-Refers-To", ref_v))
            headers.append(("Content-Type", "text/plain"))
            members.append(_gzip_member(_warc_record(headers, payload)))
            fp = (fp + _row_fp(uri_v, text_v)) % _MOD
        # per-shard warcinfo date = max record date: data-derived, so the
        # header stays deterministic without a wall-clock read
        info_date = max(ordered["date"]) if len(ordered) else DEFAULT_DATE
        blob = _gzip_member(_warcinfo(name, info_date, len(members))) + b"".join(
            members
        )
        # attempt-unique temp + atomic replace: attic/sinks/staging.py docstring
        stage_blob(staging_dir, name, blob)
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "records": len(members),
                    "bytes": len(blob),
                    "fingerprint": format(fp, "016x"),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            ]
        )

    stats = (
        rows.repartition(n_shards, F.col(_SHARD))
        .groupBy(_SHARD)
        .applyInPandas(write_shards, schema=_STATS_SCHEMA)
        .collect()  # bounded: ONE row per shard, never row data
    )
    shards = {
        int(r["shard"]): {
            "file": _shard_name(int(r["shard"]), n_shards),
            "records": int(r["records"]),
            "bytes": int(r["bytes"]),
            "fingerprint": r["fingerprint"],
            "sha256": r["sha256"],
        }
        for r in stats
    }
    # hash-empty shards still publish: a consumer mirrors a FIXED file set
    import hashlib as _hashlib

    for s in range(n_shards):
        if s not in shards:
            name = _shard_name(s, n_shards)
            blob = _gzip_member(_warcinfo(name, DEFAULT_DATE, 0))
            with open(os.path.join(staging_dir, name), "wb") as f:
                f.write(blob)
            shards[s] = {
                "file": name,
                "records": 0,
                "bytes": len(blob),
                "fingerprint": format(0, "016x"),
                "sha256": _hashlib.sha256(blob).hexdigest(),
            }
    manifest = {
        "format": "wet",
        "n_shards": n_shards,
        "total_records": sum(s["records"] for s in shards.values()),
        "shards": {str(k): shards[k] for k in sorted(shards)},
    }
    # COMMIT (module docstring): every task succeeded and every shard is
    # staged — only now does the prior export stop existing
    commit_staged(
        path,
        staging_dir,
        [shards[s]["file"] for s in sorted(shards)],
        ".warc.gz",
        MANIFEST,
        manifest,
    )
    return manifest


def _row_fp(uri: str, text: str) -> int:
    """Per-record fingerprint term: 64-bit FNV-1a over the (uri, text) pair
    with a length-prefixed join (no separator-collision), summed mod 2^64 by
    the callers — order-independent because addition commutes, multiset-
    sensitive unlike an XOR fold (``attic/sinks/dataset_export.py`` rationale).
    Pure-Python FNV instead of Spark's xxhash64 because ``verify_wet`` must
    recompute it from raw shard BYTES without a JVM round-trip."""
    h = 0xCBF29CE484222325
    for part in (uri.encode("utf-8"), text.encode("utf-8")):
        for b in len(part).to_bytes(8, "big") + part:
            h = ((h ^ b) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def diff_wet(old_manifest: dict, new_manifest: dict) -> dict:
    """Shard-level diff of two WET publications — what byte-deterministic
    export buys: a mirror refreshes ONLY the shards listed here instead of
    re-fetching the corpus (``dataset_export.diff_exports`` discipline, with
    a byte-level refinement WET's determinism makes possible). A shard is
    ``changed`` when its published BYTES differ (sha256); the subset whose
    (uri, text) content fingerprint also differs is ``content_changed``,
    the rest ``metadata_changed`` (dates/refers-to moved but no document
    content did — a mirror still refetches, a content consumer may not
    care). Raises when the manifests are not both WET, when shard counts
    differ (hash membership changes wholesale, making a shard-level diff
    meaningless), or when the shard-id sets diverge — ``write_wet``
    publishes a FIXED file set at a given ``n_shards`` (hash-empty shards
    included), so a key mismatch means a hand-edited or truncated
    manifest, never a legitimate publication; there are deliberately no
    ``added``/``removed`` buckets for the same reason."""
    for m, which in ((old_manifest, "old"), (new_manifest, "new")):
        if m.get("format") != "wet":
            raise ValueError(
                f"diff_wet: {which} manifest is not a WET manifest "
                f"(format={m.get('format')!r})"
            )
    if old_manifest["n_shards"] != new_manifest["n_shards"]:
        raise ValueError(
            "manifests not shard-comparable: n_shards differs "
            f"({old_manifest['n_shards']} vs {new_manifest['n_shards']})"
        )
    old_s, new_s = old_manifest["shards"], new_manifest["shards"]
    if old_s.keys() != new_s.keys():
        raise ValueError(
            "diff_wet: shard-id sets diverge despite equal n_shards — "
            "a WET manifest always covers exactly its fixed file set; "
            f"only-old={sorted(old_s.keys() - new_s.keys())} "
            f"only-new={sorted(new_s.keys() - old_s.keys())}"
        )
    changed, content_changed, metadata_changed, unchanged = [], [], [], []
    for sid in old_s:
        if old_s[sid]["sha256"] == new_s[sid]["sha256"]:
            unchanged.append(int(sid))
            continue
        changed.append(int(sid))
        if old_s[sid]["fingerprint"] != new_s[sid]["fingerprint"]:
            content_changed.append(int(sid))
        else:
            metadata_changed.append(int(sid))
    return {
        "changed": sorted(changed),
        "content_changed": sorted(content_changed),
        "metadata_changed": sorted(metadata_changed),
        "unchanged": sorted(unchanged),
    }


def read_wet(spark: SparkSession, path: str) -> DataFrame:
    """Re-ingest published WET shards as ``documents``-shaped rows — the
    same (doc_id, text, lang, source, n_chars) shape
    ``operators/html_text.warc_html_documents`` lands, so a re-ingested
    corpus drops into the same downstream pipeline. Parsing rides
    ``sources/warc.py`` (same fail-loud container contract, one task per
    shard); only ``conversion`` records contribute rows."""
    from hbase_observer_es_spark.sources.warc import read_warc

    warc = read_warc(spark, path, glob="*.warc.gz")
    return (
        warc.filter(F.col("warc_type") == "conversion")
        .select(
            F.xxhash64("target_uri", "record_id").alias("doc_id"),
            F.col("payload").cast("string").alias("text"),
            F.lit(None).cast("string").alias("lang"),
            F.col("target_uri").alias("source"),
        )
        .withColumn("n_chars", F.length("text"))
    )


def verify_wet(path: str) -> dict:
    """Consumer-side integrity gate, two independent layers per shard:
    byte-level (size + sha256 of the published blob vs the manifest — header
    tampering and re-compression diverge here) and content-level (re-parse
    with the fail-loud WARC parser, recompute record counts and the
    (uri, text) multiset fingerprint). Any ``*.warc.gz`` on disk that the
    manifest does not describe is also a failure — ``read_wet`` would ingest
    it. Raises ``ValueError`` naming every divergence; returns the
    recomputed per-shard stats on success. Driver-local by design — it is the
    consumer's audit tool (a mirror check), not a cluster job; each shard
    streams through at most once."""
    import hashlib

    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    problems: list[str] = []
    recomputed: dict[str, dict] = {}
    # a shard ON DISK that the manifest does not describe is as much a
    # divergence as a missing one: read_wet would ingest it, so the gate
    # must see it (stale prior export, or an injected file)
    manifested = {e["file"] for e in manifest["shards"].values()}
    for f in sorted(os.listdir(path)):
        if f.endswith(".warc.gz") and f not in manifested:
            problems.append(f"file {f} on disk but not in manifest")
    for key, entry in sorted(manifest["shards"].items()):
        fpath = os.path.join(path, entry["file"])
        if not os.path.isfile(fpath):
            problems.append(f"shard {key}: file {entry['file']} missing")
            continue
        with open(fpath, "rb") as f:
            raw = f.read()
        # byte-level audit first: the published blob must be EXACTLY what
        # the writer hashed — header tampering or re-compression diverges
        # here even when record counts and (uri, text) content survive
        if len(raw) != entry["bytes"]:
            problems.append(
                f"shard {key}: {len(raw)} bytes on disk, manifest says "
                f"{entry['bytes']}"
            )
        sha = hashlib.sha256(raw).hexdigest()
        if sha != entry["sha256"]:
            problems.append(
                f"shard {key}: sha256 {sha[:16]}... != manifest "
                f"{entry['sha256'][:16]}..."
            )
        count = 0
        fp = 0
        saw_warcinfo = False
        for rec in parse_warc_bytes(_maybe_gunzip(raw), fpath):
            if rec["warc_type"] == "warcinfo":
                saw_warcinfo = True
                continue
            if rec["warc_type"] != "conversion":
                problems.append(
                    f"shard {key}: unexpected record type {rec['warc_type']!r}"
                )
                continue
            count += 1
            fp = (
                fp
                + _row_fp(rec["target_uri"], rec["payload"].decode("utf-8"))
            ) % _MOD
        stats = {"records": count, "fingerprint": format(fp, "016x"), "sha256": sha}
        recomputed[key] = stats
        if not saw_warcinfo:
            problems.append(f"shard {key}: missing warcinfo record")
        if count != entry["records"]:
            problems.append(
                f"shard {key}: {count} records on disk, manifest says "
                f"{entry['records']}"
            )
        if stats["fingerprint"] != entry["fingerprint"]:
            problems.append(
                f"shard {key}: fingerprint {stats['fingerprint']} != "
                f"manifest {entry['fingerprint']}"
            )
    if problems:
        raise ValueError("WET verify failed:\n  " + "\n  ".join(problems))
    return recomputed
