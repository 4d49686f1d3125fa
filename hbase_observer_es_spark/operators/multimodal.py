"""Multimodal columns: opaque binary payloads + typed metadata, decoded via
Arrow-batched mapInPandas (north-star operator family).

Pattern for image/audio/video at 100 TB: store the payload as a `binary` column
(or a pointer into object storage) next to typed metadata; decode/feature-extract
runs as mapInPandas over Arrow batches so each executor processes whole record
batches without JVM→Python row overhead. Partitioning, schema, UDF signature, and
batch shape here are real and tested. The codec itself: PNG, JPEG
(baseline + progressive), GIF, BMP, baseline TIFF (incl. LZW/PackBits/
Deflate strips), and lossless WebP (VP8L) all decode FOR REAL — from
spec, stdlib-only (``operators/png.py`` / ``jpeg.py`` / ``gif.py`` /
``bmp.py`` / ``tiff.py`` / ``vp8l.py``), routed by payload magic through
the universal dispatch ``jpeg.decode_image``. Lossy-VP8 WebP (boolean
arithmetic coder — not stdlib-expressible) and unknown magics raise
NotImplementedError from ``decode_image_real``, so the registered
fixture path (UTF-8 text payloads) keeps the deterministic fake decode
its DuckDB oracle mirrors.

Routing neutrality on fixtures is BY CONSTRUCTION: PNG/JPEG/TIFF magics
contain non-ASCII or NUL bytes a UTF-8 text payload can never carry, and
the ASCII-expressible magics ("BM", "GIF87a"/"GIF89a", "RIFF…WEBP")
carry structural guards in ``jpeg.sniff_format`` (BMP's mandatory-zero
reserved field; GIF's post-header block introducer; WebP's exact binary
RIFF size) that prose cannot satisfy — so every fixture payload takes
the fake branch and the oracle stays exact. (Also measured: 0 documents
at any SF even start with "BM"/"GIF8".)

Fixture note: `documents.text` UTF-8 bytes stand in for the binary payload.
The fake codec's `first_byte` is the payload's first BYTE (Python `b[0]`) while
the oracle uses `ascii()` — the first CHARACTER's codepoint. These agree only
because the fixture corpus is ASCII (verified: 0 docs where octet_length ≠
length at every SF). A non-ASCII corpus would need the oracle switched to a
byte-level accessor; the operator side is already byte-true.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import table
from . import png

DECODE_SCHEMA = (
    "doc_id long, n_bytes long, first_byte long, width long, height long,"
    " n_frames long, fmt string"
)


def _decode_real(payload: bytes) -> tuple:
    """(fmt, PngImage) via the universal from-spec dispatch — the sniff
    is ``jpeg.sniff_format`` (THE single magic list, with structural
    guards that keep UTF-8 prose starting with "BM"/"GIF8" off the real
    path) and the decode is ``jpeg.decode_image`` (PNG/JPEG/GIF/BMP/
    TIFF; GIF decodes as the first fully-composed frame). Error contract
    is two-valued: NotImplementedError for formats without an
    in-container codec (WebP pixels, unknown magics, audio payloads
    mis-routed at the image decoder) → the registered query's fake
    fallback; ValueError for corrupt bytes under a recognized sniff →
    propagates (corruption never silently downgrades to fake
    metadata)."""
    from . import jpeg as _jpeg

    head = bytes(payload[:12])
    if head[:4] == b"RIFF" and head[8:12] == b"WAVE":
        raise NotImplementedError(
            "image decoding for riff/wave AUDIO (an audio payload, not "
            "an image)"
        )
    fmt = _jpeg.sniff_format(payload)
    if fmt is None:
        raise NotImplementedError(
            f"image decoding for unknown (magic {head[:8]!r}): no "
            "from-spec codec in-container — PNG/JPEG/GIF/BMP/TIFF/"
            "lossless-WebP decode for real (jpeg.decode_image); anything "
            "else falls back to the deterministic fake decoder in "
            "q_mm_decode"
        )
    # webp included: VP8L decodes for real; lossy VP8 raises its named
    # NotImplementedError from decode_webp_pixels (→ fake fallback)
    return fmt, _jpeg.decode_image(payload)


def decode_image_real(payload: bytes) -> dict:
    """Real decoder: PNG, JPEG (baseline + progressive), GIF (first
    composed frame), 24-bit BMP, baseline TIFF, and lossless WebP (VP8L)
    — all FROM SPEC, stdlib-only, via the universal magic dispatch
    ``jpeg.decode_image``. Lossy-VP8 WebP and unknown magics raise
    NotImplementedError, loudly and per-format, rather than faking pixel
    data. ``n_frames`` is the frame count PRESENT in the container: 1
    for the single-image formats, the block-walk count for GIF
    (``gif.count_gif_frames``) and the ANMF chunk count for animated
    WebP (``webpmeta.webp_meta``) — header walks both, no extra pixel
    decode, the same numbers media_census reports for the same payload.
    A GIF whose later frames are structurally truncated is corrupt and
    raises ValueError even though frame 0 decoded — corruption never
    downgrades to wrong metadata."""
    fmt, img = _decode_real(payload)
    n_frames = 1
    if fmt == "gif":
        from . import gif as _gif

        n_frames = _gif.count_gif_frames(payload)
    elif fmt == "webp":
        from . import webpmeta as _webpmeta

        n_frames = _webpmeta.webp_meta(payload)["n_frames"]
    return {
        "width": img.width,
        "height": img.height,
        "n_frames": n_frames,
        "fmt": fmt,
        "bit_depth": img.bit_depth,
        "color_type": img.color_type,
        "channels": img.channels,
    }


def _fake_decode(payload: bytes) -> tuple[int, int, int, str]:
    """Deterministic fake codec: metadata derived only from the bytes, so the
    DuckDB oracle can mirror it arithmetically."""
    n = len(payload)
    first = payload[0] if n else 0
    width = 64 + (n % 576)
    height = 64 + ((n * 31 + first) % 416)
    n_frames = 1 + (first % 8)
    fmt = ("png", "jpeg", "webp")[n % 3]
    return width, height, n_frames, fmt


def q_mm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary → decoded metadata via mapInPandas over Arrow batches.

    The plumbing (binary column in, typed struct columns out, iterator of
    record batches) is exactly what a real image/audio decode runs at scale.
    Payloads carrying a PNG/JPEG/GIF/BMP/TIFF magic take the REAL from-spec
    decoders (universal dispatch ``jpeg.decode_image``) — actual header
    geometry, not arithmetic fakes; everything else keeps the deterministic
    fake codec so the DuckDB oracle can mirror the fixture corpus (UTF-8
    text payloads — non-ASCII magics impossible by construction, the two
    ASCII-expressible ones measured absent at every SF, see module
    docstring; ``tests/test_png.py`` pins the real branch on synthesized
    bytes)."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def _decode_one(b: bytes) -> tuple[int, int, int, str]:
        # ONE dispatch site: decode_image_real owns the magic routing; a
        # format it cannot honestly decode raises NotImplementedError and
        # falls back to the fake codec. A CORRUPT real format (PNG magic,
        # bad bytes) raises ValueError and propagates — corruption must
        # never silently downgrade to fake metadata.
        try:
            m = decode_image_real(b)
        except NotImplementedError:
            return _fake_decode(b)
        return m["width"], m["height"], m["n_frames"], m["fmt"]

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            meta = [_decode_one(bytes(p)) for p in payloads]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": [len(bytes(p)) for p in payloads],
                    "first_byte": [bytes(p)[0] if len(p) else 0 for p in payloads],
                    "width": [m[0] for m in meta],
                    "height": [m[1] for m in meta],
                    "n_frames": [m[2] for m in meta],
                    "fmt": [m[3] for m in meta],
                }
            )

    return d.mapInPandas(decode_batches, DECODE_SCHEMA)


SQL_MM_DECODE = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS first_byte,
       CAST(64 + (octet_length(encode(text)) % 576) AS BIGINT) AS width,
       CAST(64 + ((octet_length(encode(text)) * 31 + ascii(substring(text, 1, 1))) % 416) AS BIGINT) AS height,
       CAST(1 + (ascii(substring(text, 1, 1)) % 8) AS BIGINT) AS n_frames,
       CASE octet_length(encode(text)) % 3
            WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'webp' END AS fmt
FROM documents
"""


def q_mm_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over the opaque payload, fully JVM-side: byte length and a
    content hash — the cheap pre-filter you run before any expensive decode."""
    d = table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.octet_length(F.col("text")).cast("bigint").alias("n_bytes"),
        F.sha2(F.col("text"), 256).alias("sha256_hex"),
        (F.octet_length(F.col("text")) % 1024).cast("bigint").alias("shard_bucket"),
    )


SQL_MM_META = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       sha256(text) AS sha256_hex,
       CAST(octet_length(encode(text)) % 1024 AS BIGINT) AS shard_bucket
FROM documents
"""


FRAME_STRIDE = 2
FRAME_SCHEMA = "doc_id long, frame_idx long, frame_hash long"


def q_mm_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: ONE payload row → MANY frame rows via mapInPandas.

    The shape real frame extraction needs — the Python iterator yields more rows
    than it receives (strided sample of each clip's n_frames), with a per-frame
    feature column. Row counts change inside the UDF, so this is mapInPandas
    territory (a pandas_udf must stay 1:1). The frame decode itself is the same
    deterministic fake as q_mm_decode (no codec libs in the container); the
    batch shape, schema, and fan-out plumbing are the real thing.

    Scale: fan-out happens executor-side per Arrow batch — no shuffle, no
    explode of materialized frame arrays through the JVM; downstream operators
    see a plain (doc_id, frame_idx)-keyed frame table.
    """
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "frame_hash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                first = b[0] if b else 0
                n_frames = 1 + (first % 8)
                for idx in range(0, n_frames, FRAME_STRIDE):
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["frame_hash"].append((first * 31 + idx * 7) % 256)
            yield pd.DataFrame(out)

    return d.mapInPandas(sample_batches, FRAME_SCHEMA)


SQL_MM_FRAMESAMPLE = f"""
SELECT doc_id,
       unnest(generate_series(0, nf - 1, {FRAME_STRIDE})) AS frame_idx,
       CAST((fb * 31 + unnest(generate_series(0, nf - 1, {FRAME_STRIDE})) * 7) % 256
            AS BIGINT) AS frame_hash
FROM (
    SELECT doc_id,
           CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS fb,
           1 + (ascii(substring(text, 1, 1)) % 8) AS nf
    FROM documents
)
"""


RESIZE_TARGET = 224  # fit-longest-side target, the usual vision-model input size


def _fit_longest(w: int, h: int, target: int) -> tuple[int, int]:
    """Aspect-preserving fit: longest side → ``target``, the other scaled
    by integer floor division with a ≥1 clamp. THE single Python copy —
    the real branch, the fake branch, and (manually mirrored) the SQL
    oracle must agree digit for digit."""
    longest = max(w, h)
    return max(1, (w * target) // longest), max(1, (h * target) // longest)


def resize_image_real(
    payload: bytes, target: int = RESIZE_TARGET, filter_mode="adaptive"
) -> dict:
    """REAL image resize for every format the container can honestly
    decode: PNG/JPEG/GIF/BMP/TIFF → aspect-preserving fit-to-``target``
    (the same integer floor arithmetic as the registered query) →
    nearest-neighbor resample of the actual pixels → spec-valid PNG
    re-encode (``operators/png.py`` — the normalize-to-PNG thumbnail
    convention: lossy inputs re-encode losslessly, so a second pass is
    idempotent). Returns source/target geometry, the re-encoded payload,
    and ``raw_crc32`` — a CRC over geometry + the resized RAW scanlines,
    which is implementation-independent (compressed IDAT bytes vary
    across zlib builds; the reconstructed pixels never do). Undecodable
    formats raise the same per-format NotImplementedError as
    ``decode_image_real`` (single refusal site: ``_decode_real``)."""
    import struct
    import zlib

    _, img = _decode_real(payload)
    ow, oh = _fit_longest(img.width, img.height, target)
    resized = png.resize_nearest(img, ow, oh)
    return {
        "width": img.width,
        "height": img.height,
        "out_w": ow,
        "out_h": oh,
        # filter_mode passes through to the encoder: "adaptive" (default)
        # optimizes size, 0 optimizes CPU — bulk thumbnailing folds pick 0
        "payload": png.encode_png(resized, filter_mode=filter_mode),
        "raw_crc32": zlib.crc32(struct.pack(">II", ow, oh) + resized.raw)
        & 0xFFFFFFFF,
    }


def q_mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize plumbing: decode → aspect-preserving fit-to-224 → re-encode
    metadata, in ONE mapInPandas pass (decode + transform fused per Arrow batch
    — at 100 TB you never shuffle decoded pixels between stages).

    Payloads that sniff as a decodable image (PNG/JPEG/GIF/BMP/TIFF via
    ``jpeg.sniff_format``) take :func:`resize_image_real` — actual pixels
    resampled and re-encoded as PNG, the checksum a crc32 of geometry +
    raw scanlines; everything else keeps the deterministic fake codec
    whose arithmetic the DuckDB oracle mirrors digit for digit (fit math
    is integer floor division with a ≥1 clamp on BOTH branches). As with
    q_mm_decode, fixture payloads are encode(text,'UTF-8') and can never
    satisfy the sniff (non-ASCII magics by construction, structural
    guards on the ASCII-expressible ones — module docstring) — the real
    branch is pinned by tests/test_png.py, the registered path by the
    oracle."""
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", "width", "height", "out_w", "out_h",
                                    "out_pixels", "checksum")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                b = bytes(payload)
                try:
                    m = resize_image_real(b)
                except NotImplementedError:
                    m = None
                if m is not None:
                    rows["doc_id"].append(doc_id)
                    rows["width"].append(m["width"])
                    rows["height"].append(m["height"])
                    rows["out_w"].append(m["out_w"])
                    rows["out_h"].append(m["out_h"])
                    rows["out_pixels"].append(m["out_w"] * m["out_h"])
                    # implementation-independent: pixels, not compressed bytes
                    rows["checksum"].append(m["raw_crc32"] % 997)
                    continue
                w, h, _nf, _fmt = _fake_decode(b)
                ow, oh = _fit_longest(w, h, RESIZE_TARGET)
                first = b[0] if b else 0
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["out_w"].append(ow)
                rows["out_h"].append(oh)
                rows["out_pixels"].append(ow * oh)
                rows["checksum"].append((first * ow + oh) % 997)
            yield pd.DataFrame(rows)

    return d.mapInPandas(
        resize_batches,
        "doc_id long, width long, height long, out_w long, out_h long,"
        " out_pixels long, checksum long",
    )


SQL_MM_RESIZE = f"""
WITH dec AS (
    SELECT doc_id,
           CAST(ascii(substring(text, 1, 1)) AS BIGINT) AS fb,
           CAST(64 + (octet_length(encode(text)) % 576) AS BIGINT) AS w,
           CAST(64 + ((octet_length(encode(text)) * 31 + ascii(substring(text, 1, 1))) % 416)
                AS BIGINT) AS h
    FROM documents
),
fit AS (
    SELECT doc_id, fb, w, h,
           greatest(1, (w * {RESIZE_TARGET}) // greatest(w, h)) AS ow,
           greatest(1, (h * {RESIZE_TARGET}) // greatest(w, h)) AS oh
    FROM dec
)
SELECT doc_id, w AS width, h AS height, ow AS out_w, oh AS out_h,
       ow * oh AS out_pixels, (fb * ow + oh) % 997 AS checksum
FROM fit
"""


QUERIES = {
    "q_mm_decode": q_mm_decode,
    "q_mm_meta": q_mm_meta,
    "q_mm_framesample": q_mm_framesample,
    "q_mm_resize": q_mm_resize,
}

ORACLES = {
    "q_mm_decode": SQL_MM_DECODE,
    "q_mm_meta": SQL_MM_META,
    "q_mm_framesample": SQL_MM_FRAMESAMPLE,
    "q_mm_resize": SQL_MM_RESIZE,
}
