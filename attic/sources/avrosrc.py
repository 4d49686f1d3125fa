"""Avro Object Container File source — the tabular-interchange subset,
implemented from the PUBLIC specification (Apache Avro 1.x file format).

Spark ships Avro as an external module (``spark-avro``) that is absent here
and installs are prohibited; previously this boundary was documented as
"absent, not stubbed". The file format itself, however, is public and simple
for TABULAR data — and vendor drops are tabular — so this module implements
that subset directly, the same move as ``sources/warc.py``:

* **Container layout** (per spec): magic ``Obj\\x01``; file metadata map
  (``avro.schema`` JSON, ``avro.codec``); 16-byte sync marker; then data
  blocks of (record-count varint, byte-size varint, payload, sync). Sync
  markers are VERIFIED per block — a corrupt or truncated block kills the
  job with file + block context, never silently drops records.
* **Type subset, fail-loud**: records of primitives — ``boolean`` ``int``
  ``long`` ``float`` ``double`` ``string`` ``bytes`` ``null`` — their
  2-branch null unions (the nullable-column convention), and
  ``timestamp-micros`` on long. Arrays, maps, nested records, enums, fixed,
  and multi-branch unions RAISE: this is a tabular ingest boundary, not a
  document store, and a silently-flattened nested value is worse than a loud
  refusal.
* **Codecs**: ``null``, ``deflate`` (raw DEFLATE, stdlib zlib), and
  ``snappy`` — the codec real vendor drops default to most often. No snappy
  library exists in this environment, so the raw snappy block format
  (preamble varint + literal/copy elements, public format description) is
  implemented from the spec below, the same move as the varint codec and the
  WARC gzip members; Avro's framing appends a 4-byte big-endian CRC32 of the
  UNCOMPRESSED block, which is verified per block. The write side emits
  literal-only snappy (spec-valid output any decoder accepts — this is an
  interop writer, not a compressor); the decoder handles all four element
  types including overlapping copies and is pinned against hand-encoded
  spec bytes in tests. Codecs beyond these three fail loudly by name.
* **Scale**: files load via ``binaryFile`` and decode inside ``mapInArrow``
  with explicitly-typed arrow arrays (pandas inference would widen nullable
  int64 to float64, corrupting values beyond 2^53, and would conflate float
  NaN with NULL) — one task per file, the WARC posture; Avro containers are
  block-splittable in principle, but per-file parallelism is the correct
  first-order contract for vendor-drop ingest, and the landing conversion
  (``avro_to_parquet``) is a single pass after which nothing re-reads Avro.
* **The writer is deliberately DRIVER-SIDE and bounded** (interop export of
  model-artifact-sized frames; it also serves as the spec-reference encoder
  for the round-trip tests). Corpus-scale data leaves through parquet/ORC or
  ``attic/sinks/dataset_export.py`` — exporting 100 TB through a from-scratch
  single-stream encoder would be a scale bug wearing a feature's name, so
  ``write_avro`` REFUSES frames above an explicit row cap instead of
  pretending.

Correctness tether: the decoder is additionally pinned against HAND-ENCODED
spec bytes in tests (``tests/test_avro.py`` builds a file byte-by-byte from
the specification), so the reader and writer cannot share a mirrored bug.
"""

from __future__ import annotations

import io
import json
import struct
import zlib
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from hbase_observer_es_spark.session import apply_runtime_conf

MAGIC = b"Obj\x01"
_SYNC_SIZE = 16

# spec primitive name -> Spark type (the tabular subset)
_PRIMITIVES = {
    "boolean": T.BooleanType(),
    "int": T.IntegerType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "double": T.DoubleType(),
    "string": T.StringType(),
    "bytes": T.BinaryType(),
}

# a deliberately bounded writer (module docstring) — not a corpus exporter
WRITE_CAP_ROWS = 1_000_000


# --------------------------------------------------------------- primitives IO


def _zigzag_encode(n: int) -> bytes:
    u = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf):
            raise ValueError("avro: truncated varint")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (acc >> 1) ^ -(acc & 1), pos


def _enc_bytes(b: bytes) -> bytes:
    return _zigzag_encode(len(b)) + b


def _dec_bytes(buf: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = _zigzag_decode(buf, pos)
    if n < 0 or pos + n > len(buf):
        raise ValueError("avro: bad bytes/string length")
    return buf[pos : pos + n], pos + n


# ----------------------------------------------------------------- snappy codec
#
# Raw snappy block format, implemented from the public format description
# (google/snappy format_description.txt). Layout: a plain little-endian
# base-128 varint preamble carrying the UNCOMPRESSED length, then a sequence
# of elements tagged by the low 2 bits of their first byte:
#
#   00 literal — upper 6 bits hold len-1 when < 60; values 60..63 mean the
#      length-1 follows in 1..4 little-endian bytes; literal bytes follow.
#   01 copy, 1-byte offset — length 4..11 in tag bits 2-4; offset is 11 bits
#      (tag bits 5-7 are the high bits, next byte the low 8).
#   10 copy, 2-byte little-endian offset — length 1..64 in tag bits 2-7.
#   11 copy, 4-byte little-endian offset — same length encoding.
#
# Copies may OVERLAP the output cursor (offset < length) — the spec requires
# byte-at-a-time semantics so the copied region repeats; a slice copy would
# silently produce garbage, which is why the overlap branch is explicit and
# golden-tested. Avro's snappy framing (spec, "Required Codecs / snappy")
# appends a 4-byte big-endian CRC32 of the uncompressed data per block.


def _plain_varint_decode(buf: bytes, pos: int, what: str) -> tuple[int, int]:
    """Little-endian base-128 varint (NOT zigzag — snappy preambles are
    unsigned)."""
    shift = 0
    acc = 0
    while True:
        if pos >= len(buf) or shift > 35:
            raise ValueError(f"truncated/overlong varint in {what}")
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not (b & 0x80):
            return acc, pos
        shift += 7


def snappy_uncompress(data: bytes, origin: str = "<bytes>") -> bytes:
    """Decompress one raw snappy block, fail-loud with origin context on any
    structural violation (truncation, bad offset, length mismatch)."""
    expected_len, pos = _plain_varint_decode(data, 0, f"snappy preamble ({origin})")
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 0x03
        if kind == 0:  # literal
            n = tag >> 2
            if n >= 60:
                extra = n - 59  # 1..4 bytes of little-endian length-1
                if pos + extra > len(data):
                    raise ValueError(f"snappy {origin}: truncated literal length")
                n = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            n += 1
            if pos + n > len(data):
                raise ValueError(f"snappy {origin}: truncated literal body")
            out += data[pos : pos + n]
            pos += n
            continue
        if kind == 1:  # copy, 1-byte offset, length 4..11
            if pos >= len(data):
                raise ValueError(f"snappy {origin}: truncated 1-byte-offset copy")
            length = 4 + ((tag >> 2) & 0x07)
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte LE offset, length 1..64
            if pos + 2 > len(data):
                raise ValueError(f"snappy {origin}: truncated 2-byte-offset copy")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte LE offset
            if pos + 4 > len(data):
                raise ValueError(f"snappy {origin}: truncated 4-byte-offset copy")
            length = (tag >> 2) + 1
            offset = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if offset == 0 or offset > len(out):
            raise ValueError(
                f"snappy {origin}: copy offset {offset} outside the "
                f"{len(out)} bytes produced so far"
            )
        if offset >= length:
            start = len(out) - offset
            out += out[start : start + length]
        else:
            # overlapping copy: the spec's byte-at-a-time repeat semantics
            start = len(out) - offset
            for i in range(length):
                out.append(out[start + i])
    if len(out) != expected_len:
        raise ValueError(
            f"snappy {origin}: preamble declared {expected_len} bytes, "
            f"decoded {len(out)}"
        )
    return bytes(out)


def snappy_compress_literal(data: bytes) -> bytes:
    """Spec-valid snappy output using only literal elements (any conformant
    decoder accepts it; compression ratio 1 — this is the interop WRITER
    side, and the bounded write path never carries corpus-scale data)."""
    out = bytearray()
    n = len(data)
    u = n
    while True:  # plain varint preamble
        b = u & 0x7F
        u >>= 7
        out.append(b | 0x80 if u else b)
        if not u:
            break
    pos = 0
    while pos < n:
        chunk = min(n - pos, 1 << 16)  # 2-byte extended literal lengths
        if chunk <= 60:
            out.append((chunk - 1) << 2)
        else:
            out.append(61 << 2)  # length-1 in 2 little-endian bytes
            out += (chunk - 1).to_bytes(2, "little")
        out += data[pos : pos + chunk]
        pos += chunk
    return bytes(out)


# ------------------------------------------------------------- schema handling


def _field_kind(ftype) -> tuple[str, bool, bool, int]:
    """(primitive-name, nullable, is_timestamp, null-branch-index) for one
    schema field type. The null index matters: the spec allows both
    ``["null", T]`` and ``[T, "null"]``, and the union tag on the wire is the
    POSITION in the declared list. Raises on anything outside the subset."""
    nullable = False
    null_idx = -1
    if isinstance(ftype, list):  # union
        branches = [b for b in ftype if b != "null"]
        if len(ftype) != 2 or len(branches) != 1:
            raise ValueError(
                f"avro: only 2-branch null unions are supported, got {ftype!r}"
            )
        nullable = True
        null_idx = ftype.index("null")
        ftype = branches[0]
    is_ts = False
    if isinstance(ftype, dict):
        if ftype.get("logicalType") == "timestamp-micros" and ftype.get("type") == "long":
            is_ts = True
            ftype = "long"
        else:
            raise ValueError(
                "avro: unsupported complex/logical type "
                f"{ftype!r} — tabular subset only (module docstring)"
            )
    if ftype not in _PRIMITIVES:
        raise ValueError(f"avro: unsupported type {ftype!r} — tabular subset only")
    return ftype, nullable, is_ts, null_idx


def schema_from_avro(avro_schema: dict) -> T.StructType:
    """The Spark StructType a supported Avro record schema maps to."""
    if avro_schema.get("type") != "record":
        raise ValueError("avro: top-level schema must be a record")
    fields = []
    for f in avro_schema["fields"]:
        prim, nullable, is_ts, _ = _field_kind(f["type"])
        spark_t = T.TimestampType() if is_ts else _PRIMITIVES[prim]
        fields.append(T.StructField(f["name"], spark_t, nullable))
    return T.StructType(fields)


def _avro_schema_of(schema: T.StructType, name: str = "row") -> dict:
    """The Avro record schema a Spark StructType maps to (writer side)."""
    rev = {
        T.BooleanType(): "boolean",
        T.IntegerType(): "int",
        T.LongType(): "long",
        T.FloatType(): "float",
        T.DoubleType(): "double",
        T.StringType(): "string",
        T.BinaryType(): "bytes",
    }
    fields = []
    for f in schema.fields:
        if isinstance(f.dataType, T.TimestampType):
            base: object = {"type": "long", "logicalType": "timestamp-micros"}
        elif f.dataType in rev:
            base = rev[f.dataType]
        else:
            raise ValueError(
                f"avro: column {f.name!r} has unsupported type {f.dataType} "
                "— tabular subset only"
            )
        fields.append({"name": f.name, "type": ["null", base]})
    return {"type": "record", "name": name, "fields": fields}


# ------------------------------------------------------------------ file parse


def _read_meta_map(buf: bytes, pos: int) -> tuple[dict[str, bytes], int]:
    meta: dict[str, bytes] = {}
    while True:
        count, pos = _zigzag_decode(buf, pos)
        if count == 0:
            break
        if count < 0:  # spec: negative count is followed by a byte size
            count = -count
            _, pos = _zigzag_decode(buf, pos)
        for _ in range(count):
            k, pos = _dec_bytes(buf, pos)
            v, pos = _dec_bytes(buf, pos)
            meta[k.decode("utf-8")] = v
    return meta, pos


def parse_avro_bytes(data: bytes, origin: str = "<bytes>") -> tuple[dict, Iterator[dict]]:
    """Parse one container file: returns (avro json schema, row-dict iterator).
    Fail-loud with origin context on any structural violation."""
    if data[:4] != MAGIC:
        raise ValueError(f"avro {origin}: bad magic {data[:4]!r}")
    meta, pos = _read_meta_map(data, 4)
    if "avro.schema" not in meta:
        raise ValueError(f"avro {origin}: missing avro.schema in metadata")
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(
            f"avro {origin}: unsupported codec {codec!r} "
            "(null/deflate/snappy supported)"
        )
    schema = json.loads(meta["avro.schema"])
    kinds = [
        (f["name"], *_field_kind(f["type"])) for f in schema["fields"]
    ]
    sync = data[pos : pos + _SYNC_SIZE]
    pos += _SYNC_SIZE

    def rows() -> Iterator[dict]:
        p = pos
        block = 0
        while p < len(data):
            count, p = _zigzag_decode(data, p)
            size, p = _zigzag_decode(data, p)
            if count < 0 or size < 0 or p + size + _SYNC_SIZE > len(data):
                raise ValueError(
                    f"avro {origin}: truncated block {block} "
                    f"(count={count}, size={size})"
                )
            payload = data[p : p + size]
            p += size
            if data[p : p + _SYNC_SIZE] != sync:
                raise ValueError(
                    f"avro {origin}: sync marker mismatch after block {block}"
                )
            p += _SYNC_SIZE
            if codec == "deflate":
                payload = zlib.decompress(payload, wbits=-15)
            elif codec == "snappy":
                # Avro framing: snappy bytes + big-endian CRC32 of the
                # UNCOMPRESSED data (verified — a corrupt block dies loudly)
                if len(payload) < 4:
                    raise ValueError(
                        f"avro {origin}: snappy block {block} shorter than "
                        "its 4-byte CRC trailer"
                    )
                want_crc = int.from_bytes(payload[-4:], "big")
                payload = snappy_uncompress(
                    payload[:-4], f"{origin} block {block}"
                )
                got_crc = zlib.crc32(payload) & 0xFFFFFFFF
                if got_crc != want_crc:
                    raise ValueError(
                        f"avro {origin}: snappy CRC mismatch in block "
                        f"{block} (want {want_crc:08x}, got {got_crc:08x})"
                    )
            q = 0
            for _ in range(count):
                row = {}
                for (fname, prim, nullable, is_ts, null_idx) in kinds:
                    if nullable:
                        idx, q = _zigzag_decode(payload, q)
                        if idx == null_idx:
                            row[fname] = None
                            continue
                    if prim == "boolean":
                        if q >= len(payload):
                            raise ValueError(
                                f"avro {origin}: truncated boolean in block {block}"
                            )
                        bb = payload[q]
                        if bb not in (0, 1):
                            # the spec encodes booleans as exactly 0x00/0x01 —
                            # any other byte is corruption, not "truthy"
                            raise ValueError(
                                f"avro {origin}: invalid boolean byte "
                                f"0x{bb:02x} in block {block}"
                            )
                        row[fname] = bb == 1
                        q += 1
                    elif prim in ("int", "long"):
                        v, q = _zigzag_decode(payload, q)
                        row[fname] = v
                    elif prim == "float":
                        (row[fname],) = struct.unpack_from("<f", payload, q)
                        q += 4
                    elif prim == "double":
                        (row[fname],) = struct.unpack_from("<d", payload, q)
                        q += 8
                    elif prim == "string":
                        b, q = _dec_bytes(payload, q)
                        row[fname] = b.decode("utf-8")
                    else:  # bytes
                        row[fname], q = _dec_bytes(payload, q)
                    if is_ts:
                        row[fname] = row[fname]  # micros since epoch (int)
                yield row
            if q != len(payload):
                raise ValueError(
                    f"avro {origin}: block {block} has {len(payload) - q} "
                    "undecoded trailing bytes"
                )
            block += 1

    return schema, rows()


# ------------------------------------------------------------------ Spark side


def read_avro(spark: SparkSession, path: str, glob: str = "*.avro") -> DataFrame:
    """Read a directory of Avro container files into the schema their
    metadata declares (all files must agree — drift fails loudly, the ORC
    rule). One task per file, Arrow-batched decode."""
    apply_runtime_conf(spark)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    # schema probe through the SAME datasource as the data (never driver-local
    # open(): the path may be on any Hadoop-compatible filesystem). One file's
    # bytes suffice — every other file is drift-checked against it in decode.
    probe = binary.orderBy("path").limit(1).collect()
    if not probe:
        raise ValueError(f"avro: no files matching {glob!r} under {path}")
    first_path = probe[0]["path"]
    first_schema, _ = parse_avro_bytes(bytes(probe[0]["content"]), first_path)
    spark_schema = schema_from_avro(first_schema)
    ts_cols = [
        f["name"]
        for f in first_schema["fields"]
        if _field_kind(f["type"])[2]
    ]
    names = [f.name for f in spark_schema.fields]
    # decode to raw micros, cast to timestamp after Arrow transfer
    raw_schema = T.StructType(
        [
            T.StructField(f.name, T.LongType() if f.name in ts_cols else f.dataType)
            for f in spark_schema.fields
        ]
    )
    expected = json.dumps(first_schema, sort_keys=True)
    # Arrow types matching raw_schema EXACTLY. Decode yields arrow batches
    # (mapInArrow), never a pandas frame: pd.DataFrame(rows) would infer
    # float64 for any int/long column containing a None, silently corrupting
    # int64 values beyond 2^53, and would conflate genuine float NaN with
    # NULL. pa.array(values, type=...) preserves both exactly (None -> null,
    # NaN -> NaN, big longs bit-exact) — found by the round-9 advisor.
    _PA = {
        "boolean": "bool_",
        "int": "int32",
        "long": "int64",
        "float": "float32",
        "double": "float64",
        "string": "string",
        "bytes": "binary",
    }
    col_prims = {
        f["name"]: ("long" if f["name"] in ts_cols else _field_kind(f["type"])[0])
        for f in first_schema["fields"]
    }

    def decode(batches):
        import pyarrow as pa

        pa_types = {n: getattr(pa, _PA[col_prims[n]])() for n in names}
        for batch in batches:
            paths = batch.column("path").to_pylist()
            contents = batch.column("content").to_pylist()
            cols: dict[str, list] = {n: [] for n in names}
            for p, content in zip(paths, contents):
                schema, it = parse_avro_bytes(bytes(content), p)
                if json.dumps(schema, sort_keys=True) != expected:
                    raise ValueError(
                        f"avro: schema drift in {p} vs {first_path} — "
                        "regenerate the dump or ingest the files separately"
                    )
                for row in it:
                    for n in names:
                        cols[n].append(row[n])
            yield pa.RecordBatch.from_arrays(
                [pa.array(cols[n], type=pa_types[n]) for n in names], names
            )

    df = binary.mapInArrow(decode, schema=raw_schema)
    from pyspark.sql import functions as F

    for c in ts_cols:
        df = df.withColumn(c, F.timestamp_micros(F.col(c)))
    return df


def write_avro(df: DataFrame, path: str, codec: str = "deflate") -> None:
    """Driver-side bounded writer (module docstring): one container file at
    ``path`` with every column written as its nullable union. Refuses frames
    above WRITE_CAP_ROWS — corpus-scale exports belong to parquet/ORC."""
    if codec not in ("null", "deflate", "snappy"):
        raise ValueError(f"avro: unsupported write codec {codec!r}")
    avro_schema = _avro_schema_of(df.schema)
    kinds = [(f["name"], *_field_kind(f["type"])) for f in avro_schema["fields"]]
    # Timestamps become epoch micros IN SPARK, before collect(): Row
    # collection materializes TimestampType via datetime.fromtimestamp in the
    # DRIVER OS timezone (spark.sql.session.timeZone does not apply to
    # collect()), so driver-side "naive datetime == UTC" arithmetic would
    # write offset-shifted values on any non-UTC driver — round-9 advisor.
    from pyspark.sql import functions as F

    projected = [
        F.unix_micros(F.col(f.name)).alias(f.name)
        if isinstance(f.dataType, T.TimestampType)
        else F.col(f.name)
        for f in df.schema.fields
    ]
    rows = df.select(projected).limit(WRITE_CAP_ROWS + 1).collect()
    if len(rows) > WRITE_CAP_ROWS:
        raise ValueError(
            f"avro: frame exceeds the {WRITE_CAP_ROWS}-row interop-export cap "
            "— use parquet/ORC or sinks/dataset_export for corpus-scale data"
        )
    buf = io.BytesIO()
    for r in rows:
        d = r.asDict()
        for (fname, prim, _nullable, is_ts, _null_idx) in kinds:
            v = d[fname]
            if v is None:
                buf.write(_zigzag_encode(0))
                continue
            buf.write(_zigzag_encode(1))  # union branch: the non-null type
            if is_ts:
                # already exact integer epoch micros (unix_micros projection
                # above) — no driver-timezone arithmetic here
                buf.write(_zigzag_encode(int(v)))
            elif prim in ("int", "long"):
                buf.write(_zigzag_encode(int(v)))
            elif prim == "boolean":
                buf.write(b"\x01" if v else b"\x00")
            elif prim == "float":
                buf.write(struct.pack("<f", float(v)))
            elif prim == "double":
                buf.write(struct.pack("<d", float(v)))
            elif prim == "string":
                buf.write(_enc_bytes(v.encode("utf-8")))
            else:
                buf.write(_enc_bytes(bytes(v)))
    payload = buf.getvalue()
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        payload = co.compress(payload) + co.flush()
    elif codec == "snappy":
        crc = zlib.crc32(payload) & 0xFFFFFFFF
        payload = snappy_compress_literal(payload) + crc.to_bytes(4, "big")
    # deterministic sync marker (content-derived) — re-exports are diffable
    import hashlib

    sync = hashlib.sha256(json.dumps(avro_schema, sort_keys=True).encode()).digest()[:16]
    out = io.BytesIO()
    out.write(MAGIC)
    meta = {
        "avro.schema": json.dumps(avro_schema).encode(),
        "avro.codec": codec.encode(),
    }
    out.write(_zigzag_encode(len(meta)))
    for k, v in sorted(meta.items()):
        out.write(_enc_bytes(k.encode()))
        out.write(_enc_bytes(v))
    out.write(_zigzag_encode(0))
    out.write(sync)
    if rows:
        out.write(_zigzag_encode(len(rows)))
        out.write(_zigzag_encode(len(payload)))
        out.write(payload)
        out.write(sync)
    with open(path, "wb") as fh:
        fh.write(out.getvalue())


def avro_to_parquet(spark: SparkSession, avro_path: str, parquet_path: str) -> None:
    """Landing conversion: one decode pass, served columnar thereafter."""
    read_avro(spark, avro_path).write.mode("overwrite").parquet(parquet_path)
