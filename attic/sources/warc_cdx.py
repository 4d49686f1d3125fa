"""CDX-style member index over WARC/WET shards — the random-access piece.

Common Crawl consumers do not stream whole shards to fetch one page: they
look an URL up in a CDX index, issue a byte-range request for the single
gzip MEMBER that holds the record, and decompress just that member. The
layout that makes this work is one-record-one-member — the layout Common
Crawl publishes and ``attic/sinks/wet.py`` writes. This module builds that index
with Spark (one task per shard, Arrow-batched) and provides the matching
point reader, so a corpus published here is range-addressable end to end::

    write_wet(docs, path, n)             # member-per-record shards
    idx = warc_cdx(spark, path)          # one row per member, byte offsets
    rec = fetch_member(file, off, len)   # range read + decompress ONE record

Index granularity is the gzip MEMBER — deliberately. Member boundaries are
the only positions a range request can start decompressing from; offsets
inside a member would require decompressing from the member start anyway.
For member-per-record shards (the operating point) the index is therefore a
full per-record CDX: every row carries the record's id, type, URI, date, and
a ``sha1:<base32>`` payload digest (the CDX digest convention). A shard that
was NOT written member-per-record — whole-stream gzip, or an uncompressed
``.warc`` — still indexes, but its members hold ``n_records > 1`` and NULL
record fields: the index says honestly that the layout does not support
record-level range access, rather than pretending an offset exists.

Parsing is ``sources/warc.parse_warc_bytes`` — the ONE WARC parser in this
repo (fail-loud, origin+offset in every error); this module adds only the
member-boundary walk, which is a property of the gzip container, not of
WARC. Scale posture: the index build is map-only (binaryFile → mapInPandas,
one task per shard, no shuffle); landing it as parquet
(``warc_cdx_to_parquet``) gives consumers a pruned, pushed-down lookup
table — filter on ``target_uri``, read three columns, issue the range
request. ``fetch_member`` is the consumer-side point reader: driver-local
by design (it is the serving path, not a cluster job) and reads exactly
``length`` bytes.
"""

from __future__ import annotations

import base64
import hashlib
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hbase_observer_es_spark.session import apply_runtime_conf
from hbase_observer_es_spark.sources.warc import parse_warc_bytes

CDX_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType()),         # shard file
        T.StructField("offset", T.LongType()),         # member start byte
        T.StructField("length", T.LongType()),         # member byte count
        T.StructField("compressed", T.BooleanType()),  # gzip member vs plain
        T.StructField("n_records", T.IntegerType()),   # records in member
        # per-record fields, non-NULL only when n_records == 1 (the
        # member-per-record operating point — see module docstring)
        T.StructField("record_id", T.StringType()),
        T.StructField("warc_type", T.StringType()),
        T.StructField("target_uri", T.StringType()),
        T.StructField("warc_date", T.StringType()),
        T.StructField("payload_digest", T.StringType()),  # sha1:<base32>
    ]
)


def _member_spans(data: bytes) -> Iterator[tuple[int, int, bytes]]:
    """Walk a (possibly multi-member) gzip stream, yielding
    ``(offset, length, decompressed_bytes)`` per member. Fail-loud on a
    corrupt or truncated member — a broken shard must kill the index build,
    same contract as the WARC parser itself."""
    pos = 0
    n = len(data)
    while pos < n:
        d = zlib.decompressobj(wbits=31)
        try:
            plain = d.decompress(data[pos:])
            while not d.eof:
                chunk = d.decompress(b"")
                if not chunk:
                    raise zlib.error("truncated gzip member")
                plain += chunk
        except zlib.error as e:
            raise ValueError(
                f"WARC-CDX @{pos}: corrupt gzip member ({e})"
            ) from None
        consumed = n - pos - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"WARC-CDX @{pos}: empty gzip member")
        yield pos, consumed, plain
        pos += consumed


def _payload_digest(payload: bytes) -> str:
    """CDX digest convention: base32 SHA-1 of the record payload."""
    return "sha1:" + base64.b32encode(hashlib.sha1(payload).digest()).decode()


def index_warc_bytes(data: bytes, path: str) -> list[dict]:
    """Index one shard's raw bytes into CDX_SCHEMA rows (see module
    docstring for the granularity contract)."""
    if data[:2] == b"\x1f\x8b":
        spans = ((off, ln, plain, True) for off, ln, plain in _member_spans(data))
    else:
        spans = iter([(0, len(data), data, False)])
    rows: list[dict] = []
    for off, ln, plain, compressed in spans:
        recs = list(parse_warc_bytes(plain, f"{path}@{off}"))
        one = recs[0] if len(recs) == 1 else None
        rows.append(
            {
                "path": path,
                "offset": off,
                "length": ln,
                "compressed": compressed,
                "n_records": len(recs),
                "record_id": one["record_id"] if one else None,
                "warc_type": one["warc_type"] if one else None,
                "target_uri": one["target_uri"] if one else None,
                "warc_date": one["warc_date"] if one else None,
                "payload_digest": _payload_digest(one["payload"]) if one else None,
            }
        )
    return rows


def warc_cdx(spark: SparkSession, path: str, glob: str = "*.warc*") -> DataFrame:
    """Build the member index over a directory of shards — one task per
    shard, map-only, no shuffle."""
    apply_runtime_conf(spark)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )

    def index_batches(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows.extend(index_warc_bytes(bytes(content), p))
            yield pd.DataFrame(rows, columns=[f.name for f in CDX_SCHEMA.fields])

    return binary.mapInPandas(index_batches, schema=CDX_SCHEMA)


def warc_cdx_to_parquet(
    spark: SparkSession, warc_path: str, parquet_path: str, glob: str = "*.warc*"
) -> None:
    """Landing conversion: the index as a pruned/pushed-down lookup table."""
    warc_cdx(spark, warc_path, glob).write.mode("overwrite").parquet(parquet_path)


def fetch_member(path: str, offset: int, length: int, compressed: bool = True):
    """The range read an index row describes: read exactly ``length`` bytes
    at ``offset``, decompress the member if needed, and parse its records
    (a one-element list at the member-per-record operating point). Local
    ``path`` here; over HTTP the same (offset, length) pair becomes a Range
    header — the byte math is identical by construction."""
    # binaryFile's path column is a Hadoop Path string: scheme-prefixed but
    # NOT percent-escaped (a space arrives literally — pinned by test), so
    # only the scheme is stripped; unquoting would corrupt any directory
    # whose name contains a literal '%'
    with open(path.removeprefix("file:"), "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    if len(raw) != length:
        raise ValueError(
            f"WARC-CDX {path}@{offset}: short read ({len(raw)} of {length})"
        )
    plain = zlib.decompress(raw, wbits=31) if compressed else raw
    return list(parse_warc_bytes(plain, f"{path}@{offset}"))
