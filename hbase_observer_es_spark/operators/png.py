"""PNG decode from the public specification, stdlib-only (zlib + struct).

The multimodal path (``operators/multimodal.py``) shipped with the codec call
stubbed because this container has no PIL/ffmpeg. PNG needs neither: the
format is fully specified publicly (RFC 2083 / W3C PNG spec) and its only
compression is DEFLATE, which ``zlib`` provides — the same from-spec
discipline as the repo's Avro container reader and snappy decompressor
(``attic/sources/avrosrc.py``). This module implements the static-image subset:

* 8-byte signature, length/type/data/CRC chunk stream (CRC32 VERIFIED per
  chunk — corruption dies loudly with chunk context, never decodes garbage);
* IHDR geometry/format parse with the spec's legal bit-depth × color-type
  matrix enforced;
* concatenated-IDAT zlib inflate with an exact expected-size check;
* the five scanline filter reconstructions (None/Sub/Up/Average/Paeth),
  all color types (gray, RGB, palette, gray+alpha, RGBA) and all legal
  bit depths (1/2/4/8/16);
* BOTH interlace methods: 0 (sequential) and 1 (Adam7 — seven
  independently-filtered passes de-interlaced into the final raster,
  empty passes contributing zero bytes per spec);
* PLTE handling for indexed images and a ``pixel(x, y)`` accessor that
  unpacks sub-byte samples (MSB-first) and 16-bit samples (big-endian) so
  tests can bit-pin individual pixel values;
* the write direction: ``encode_png`` (always interlace-0 — re-encoding
  normalizes progressive assets, which is what a pipeline wants) and
  ``resize_nearest`` (real integer nearest-neighbor pixel resampling).

Scale posture: decoding runs INSIDE the multimodal mapInPandas stages (one
Python call per payload within an Arrow batch) — pixels never cross a
shuffle, and the decoder holds one image at a time. The per-image cost is
zlib C speed plus a pure-Python filter pass; for corpus-scale pixel work
the reconstruction loop is the piece to swap for a vectorized kernel, with
the chunk/IHDR/inflate layers unchanged.

Reference parity: none — the reference (HbaseDataSyncEsObserver.java) has
no media surface; this is builder-brief (LLM-pipeline) surface closing the
last documented stub (SURVEY §2-D / VERDICT r10 "What's missing" #1).
"""

from __future__ import annotations

import struct
import zlib
from dataclasses import dataclass

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

# THE codec-family geometry bomb guard: header-declared dimensions are
# attacker data, and a few dozen bytes must never demand a multi-GB
# buffer. One constant — gif/jpeg/vp8l import it rather than drifting.
MAX_PIXELS = 64_000_000

# color type -> channel count
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# color type -> legal bit depths (the spec's table)
_LEGAL_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
_COLOR_NAMES = {0: "gray", 2: "rgb", 3: "palette", 4: "gray-alpha", 6: "rgba"}


@dataclass
class PngImage:
    """Decoded image: ``raw`` is the filter-reconstructed scanline data
    (``height`` rows of ``stride`` bytes each, no filter bytes), exactly as
    the spec's reconstruction step leaves it — sub-byte samples still
    packed, 16-bit samples big-endian, palette indices unresolved."""

    width: int
    height: int
    bit_depth: int
    color_type: int
    channels: int
    stride: int
    raw: bytes
    palette: tuple[tuple[int, int, int], ...] | None

    @property
    def color_name(self) -> str:
        return _COLOR_NAMES[self.color_type]

    def sample(self, x: int, y: int) -> tuple[int, ...]:
        """RAW sample tuple at (x, y): one value per channel, palette
        indices UNRESOLVED — the codec-level accessor resize/re-encode
        build on (an index image resizes by index, not by resolved RGB)."""
        if not (0 <= x < self.width and 0 <= y < self.height):
            raise IndexError(f"pixel ({x}, {y}) outside {self.width}x{self.height}")
        row = self.raw[y * self.stride : (y + 1) * self.stride]
        if self.bit_depth == 16:
            off = x * self.channels * 2
            return tuple(
                (row[off + 2 * c] << 8) | row[off + 2 * c + 1]
                for c in range(self.channels)
            )
        if self.bit_depth == 8:
            off = x * self.channels
            return tuple(row[off + c] for c in range(self.channels))
        # 1/2/4-bit: packed MSB-first, single channel by the legality matrix
        per_byte = 8 // self.bit_depth
        b = row[x // per_byte]
        shift = 8 - self.bit_depth * (x % per_byte + 1)
        return ((b >> shift) & ((1 << self.bit_depth) - 1),)

    def pixel(self, x: int, y: int) -> tuple[int, ...]:
        """Sample tuple at (x, y): one value per channel; palette images
        resolve through PLTE to (r, g, b). Bit-pinning accessor for tests."""
        vals = self.sample(x, y)
        if self.color_type == 3:
            idx = vals[0]
            if self.palette is None or idx >= len(self.palette):
                raise ValueError(
                    f"png: palette index {idx} outside PLTE of "
                    f"{0 if self.palette is None else len(self.palette)} entries"
                )
            return self.palette[idx]
        return vals


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 pass grid: (x_start, y_start, x_step, y_step), spec order
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _unfilter(raw: bytes, h: int, stride: int, bpp: int, origin: str) -> bytearray:
    """The five filter reconstructions over one (sub-)image: ``raw`` is
    ``h`` rows of (filter byte + ``stride`` data bytes); returns the
    reconstructed ``h * stride`` raster. Shared by the interlace-0 path
    and each Adam7 pass (filters never cross pass boundaries, per spec)."""
    out = bytearray(stride * h)
    prev_start = None
    for y in range(h):
        base = y * (stride + 1)
        ftype = raw[base]
        line = raw[base + 1 : base + 1 + stride]
        cur_start = y * stride
        if ftype == 0:  # None
            out[cur_start : cur_start + stride] = line
        elif ftype == 1:  # Sub
            for i in range(stride):
                left = out[cur_start + i - bpp] if i >= bpp else 0
                out[cur_start + i] = (line[i] + left) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                up = out[prev_start + i] if prev_start is not None else 0
                out[cur_start + i] = (line[i] + up) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = out[cur_start + i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start is not None else 0
                out[cur_start + i] = (line[i] + (left + up) // 2) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = out[cur_start + i - bpp] if i >= bpp else 0
                up = out[prev_start + i] if prev_start is not None else 0
                ul = (
                    out[prev_start + i - bpp]
                    if (prev_start is not None and i >= bpp)
                    else 0
                )
                out[cur_start + i] = (line[i] + _paeth(left, up, ul)) & 0xFF
        else:
            raise ValueError(
                f"png {origin}: undefined filter type {ftype} on row {y} "
                "(spec defines 0-4)"
            )
        prev_start = cur_start
    return out


def _chunks(data: bytes, origin: str):
    """Yield (type, payload) walking the chunk stream; verifies each CRC32
    (over type+payload, per spec) and structural bounds."""
    pos = len(PNG_MAGIC)
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError(f"png {origin}: truncated chunk header at byte {pos}")
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        end = pos + 8 + length
        if length > 0x7FFFFFFF or end + 4 > len(data):
            raise ValueError(
                f"png {origin}: chunk {ctype!r} at byte {pos} overruns the "
                f"file (declared length {length})"
            )
        payload = data[pos + 8 : end]
        (want_crc,) = struct.unpack(">I", data[end : end + 4])
        got_crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        if got_crc != want_crc:
            raise ValueError(
                f"png {origin}: CRC mismatch in chunk {ctype!r} "
                f"(want {want_crc:08x}, got {got_crc:08x})"
            )
        yield ctype, payload
        pos = end + 4
        if ctype == b"IEND":
            if pos != len(data):
                raise ValueError(
                    f"png {origin}: {len(data) - pos} trailing bytes after IEND"
                )
            return
    raise ValueError(f"png {origin}: missing IEND chunk")


def parse_ihdr(data: bytes, origin: str = "<bytes>") -> dict:
    """Header-only parse (geometry + format), without inflating pixel data —
    the cheap metadata path for decode-free profiling."""
    if data[: len(PNG_MAGIC)] != PNG_MAGIC:
        raise ValueError(f"png {origin}: bad signature {data[:8]!r}")
    for ctype, payload in _chunks(data, origin):
        if ctype != b"IHDR":
            raise ValueError(f"png {origin}: first chunk is {ctype!r}, not IHDR")
        if len(payload) != 13:
            raise ValueError(f"png {origin}: IHDR length {len(payload)} != 13")
        w, h, depth, color, comp, filt, interlace = struct.unpack(
            ">IIBBBBB", payload
        )
        if w == 0 or h == 0:
            raise ValueError(f"png {origin}: zero dimension {w}x{h}")
        if color not in _CHANNELS:
            raise ValueError(f"png {origin}: unknown color type {color}")
        if depth not in _LEGAL_DEPTHS[color]:
            raise ValueError(
                f"png {origin}: bit depth {depth} illegal for color type "
                f"{color} ({_COLOR_NAMES[color]})"
            )
        if comp != 0 or filt != 0:
            raise ValueError(
                f"png {origin}: compression/filter method {comp}/{filt} "
                "unknown (spec defines only 0/0)"
            )
        if interlace not in (0, 1):
            raise ValueError(f"png {origin}: unknown interlace method {interlace}")
        return {
            "width": w,
            "height": h,
            "bit_depth": depth,
            "color_type": color,
            "interlace": interlace,
        }
    raise ValueError(f"png {origin}: no chunks")  # pragma: no cover - unreachable


def decode_png(data: bytes, origin: str = "<bytes>") -> PngImage:
    """Full decode: chunk walk → IDAT inflate → per-scanline filter
    reconstruction (Adam7 passes de-interlaced into the final raster).
    Fail-loud with ``origin`` context on any structural violation (bad
    CRC, non-consecutive IDAT, inflate size drift, undefined filter
    byte)."""
    hdr = parse_ihdr(data, origin)
    w, h, depth, color = (
        hdr["width"],
        hdr["height"],
        hdr["bit_depth"],
        hdr["color_type"],
    )
    channels = _CHANNELS[color]
    palette: tuple[tuple[int, int, int], ...] | None = None
    idat = bytearray()
    idat_done = False
    for ctype, payload in _chunks(data, origin):
        # ANY non-IDAT chunk after IDAT has started ends the run — the
        # generic elif alone would let PLTE (or another typed chunk with
        # its own branch) slip between two IDAT runs undetected
        if ctype != b"IDAT" and idat:
            idat_done = True
        if ctype == b"PLTE":
            if idat_done:
                raise ValueError(
                    f"png {origin}: PLTE after IDAT (spec requires PLTE "
                    "before the image data)"
                )
            if len(payload) % 3 or not payload:
                raise ValueError(
                    f"png {origin}: PLTE length {len(payload)} not a positive "
                    "multiple of 3"
                )
            palette = tuple(
                (payload[i], payload[i + 1], payload[i + 2])
                for i in range(0, len(payload), 3)
            )
        elif ctype == b"IDAT":
            if idat_done:
                raise ValueError(
                    f"png {origin}: non-consecutive IDAT chunks (spec requires "
                    "one contiguous run)"
                )
            idat.extend(payload)
    if not idat:
        raise ValueError(f"png {origin}: no IDAT data")
    if color == 3 and palette is None:
        raise ValueError(f"png {origin}: palette image without PLTE")

    stride = (w * channels * depth + 7) // 8  # bytes per reconstructed row
    bpp = max(1, (channels * depth) // 8)  # filter step, per spec
    if hdr["interlace"] == 0:
        pass_geom = [(0, 0, 1, 1, w, h, stride)]
    else:
        # Adam7: seven sub-images, each filtered independently; empty
        # passes (zero width or height at this geometry) contribute no
        # bytes, not even filter bytes, per spec
        pass_geom = []
        for x0, y0, dx, dy in _ADAM7:
            pw = 0 if x0 >= w else (w - x0 + dx - 1) // dx
            ph = 0 if y0 >= h else (h - y0 + dy - 1) // dy
            if pw and ph:
                pass_geom.append(
                    (x0, y0, dx, dy, pw, ph, (pw * channels * depth + 7) // 8)
                )
    expected = sum((ps + 1) * ph for _, _, _, _, _, ph, ps in pass_geom)
    # bounded inflate: the expected size is known from IHDR, so cap
    # decompression AT that size — a crafted small-geometry/huge-stream
    # payload (decompression bomb) must die as a ValueError, never as an
    # executor OOM from materializing gigabytes before the size check
    dec = zlib.decompressobj()
    try:
        raw = dec.decompress(bytes(idat), expected)
        over = dec.decompress(dec.unconsumed_tail, 1) if dec.unconsumed_tail else b""
    except zlib.error as exc:
        raise ValueError(f"png {origin}: IDAT inflate failed: {exc}") from exc
    if over:
        raise ValueError(
            f"png {origin}: IDAT inflates beyond the {expected} bytes the "
            f"declared {w}x{h} geometry needs"
        )
    if len(raw) != expected:
        raise ValueError(
            f"png {origin}: inflated {len(raw)} bytes, geometry needs "
            f"{expected}"
        )
    if not dec.eof:
        raise ValueError(
            f"png {origin}: IDAT zlib stream did not terminate after "
            f"{expected} bytes (truncated or unterminated stream)"
        )
    if dec.unused_data:
        raise ValueError(
            f"png {origin}: {len(dec.unused_data)} trailing bytes after the "
            "IDAT zlib stream"
        )

    out = bytearray(stride * h)
    pos = 0
    for x0, y0, dx, dy, pw, ph, ps in pass_geom:
        sub = _unfilter(raw[pos : pos + (ps + 1) * ph], ph, ps, bpp, origin)
        pos += (ps + 1) * ph
        if dx == dy == 1 and x0 == y0 == 0:
            out[:] = sub  # the interlace-0 fast path: one full-frame pass
            continue
        # scatter the pass raster into the final image grid
        if depth >= 8:
            px = channels * depth // 8
            for j in range(ph):
                src = j * ps
                dst = (y0 + j * dy) * stride
                for i in range(pw):
                    o = dst + (x0 + i * dx) * px
                    out[o : o + px] = sub[src + i * px : src + (i + 1) * px]
        else:
            per_byte = 8 // depth
            mask = (1 << depth) - 1
            for j in range(ph):
                src = j * ps
                dst = (y0 + j * dy) * stride
                for i in range(pw):
                    v = (sub[src + i // per_byte] >> (8 - depth * (i % per_byte + 1))) & mask
                    x = x0 + i * dx
                    out[dst + x // per_byte] |= v << (8 - depth * (x % per_byte + 1))
    return PngImage(
        width=w,
        height=h,
        bit_depth=depth,
        color_type=color,
        channels=channels,
        stride=stride,
        raw=bytes(out),
        palette=palette,
    )


# ------------------------------------------------------------------ encoder


def _filter_forward(rows: list[bytes], bpp: int, filter_mode) -> bytes:
    """Forward filtering (the encoder direction). ``filter_mode``: a fixed
    filter id 0-4 for every row, or ``"adaptive"`` — the spec's recommended
    minimum-sum-of-absolute-differences heuristic (filtered bytes read as
    signed), deterministic with ties broken toward the lowest filter id."""

    def one(raw: bytes, prev: bytes, f: int) -> bytes:
        if f == 0:  # None is a verbatim copy — skip the per-byte loop
            return bytes(raw)
        out = bytearray(len(raw))
        for i, x in enumerate(raw):
            left = raw[i - bpp] if i >= bpp else 0
            up = prev[i]
            ul = prev[i - bpp] if i >= bpp else 0
            if f == 1:
                v = x - left
            elif f == 2:
                v = x - up
            elif f == 3:
                v = x - (left + up) // 2
            else:
                v = x - _paeth(left, up, ul)
            out[i] = v & 0xFF
        return bytes(out)

    if filter_mode != "adaptive" and filter_mode not in (0, 1, 2, 3, 4):
        raise ValueError(f"png: filter_mode {filter_mode!r} not 0-4/'adaptive'")
    out = bytearray()
    prev = bytes(len(rows[0]))
    for raw in rows:
        if filter_mode == "adaptive":
            best_f, best_cost, best_line = 0, None, b""
            for f in range(5):
                line = one(raw, prev, f)
                cost = sum(b if b < 128 else 256 - b for b in line)
                if best_cost is None or cost < best_cost:
                    best_f, best_cost, best_line = f, cost, line
            out.append(best_f)
            out.extend(best_line)
        else:
            out.append(filter_mode)
            out.extend(one(raw, prev, filter_mode))
        prev = raw
    return bytes(out)


def _chunk_bytes(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
    )


def encode_png(img: PngImage, filter_mode="adaptive") -> bytes:
    """Serialize a :class:`PngImage` back to a spec-valid PNG byte stream
    (interlace 0, one IDAT). Deterministic — same image + same
    ``filter_mode`` is byte-identical output, so re-exports are diffable
    (the repo's sink convention). ``decode_png(encode_png(img))``
    round-trips ``raw`` bit-exactly for every supported format."""
    if img.width < 1 or img.height < 1:
        raise ValueError(
            f"png: cannot encode zero dimension {img.width}x{img.height}"
        )
    if img.color_type not in _CHANNELS:
        raise ValueError(f"png: unknown color type {img.color_type}")
    if img.bit_depth not in _LEGAL_DEPTHS[img.color_type]:
        raise ValueError(
            f"png: bit depth {img.bit_depth} illegal for color type "
            f"{img.color_type}"
        )
    expected_stride = (img.width * img.channels * img.bit_depth + 7) // 8
    if img.stride != expected_stride or len(img.raw) != img.stride * img.height:
        raise ValueError(
            f"png: raw geometry mismatch ({len(img.raw)} bytes, stride "
            f"{img.stride}; {img.width}x{img.height} needs "
            f"{expected_stride * img.height} at stride {expected_stride})"
        )
    if img.color_type == 3 and not img.palette:
        raise ValueError("png: palette image without a palette")
    bpp = max(1, (img.channels * img.bit_depth) // 8)
    rows = [
        img.raw[y * img.stride : (y + 1) * img.stride] for y in range(img.height)
    ]
    filtered = _filter_forward(rows, bpp, filter_mode)
    out = bytearray(PNG_MAGIC)
    out += _chunk_bytes(
        b"IHDR",
        struct.pack(
            ">IIBBBBB", img.width, img.height, img.bit_depth, img.color_type,
            0, 0, 0,
        ),
    )
    if img.color_type == 3:
        out += _chunk_bytes(
            b"PLTE", bytes(v for rgb in img.palette for v in rgb)
        )
    out += _chunk_bytes(b"IDAT", zlib.compress(filtered, 9))
    out += _chunk_bytes(b"IEND", b"")
    return bytes(out)


def resize_nearest(img: PngImage, out_w: int, out_h: int) -> PngImage:
    """Nearest-neighbor resample to (out_w, out_h) — REAL pixel work, in
    every supported format: source coordinate = ``(dst * src_dim) //
    dst_dim`` (top-left-aligned floor mapping, the standard NN grid).
    Palette images resize by INDEX (the palette rides along unchanged);
    sub-byte and 16-bit samples repack exactly. Integer-only arithmetic,
    so the transform is bit-deterministic across hosts."""
    if out_w < 1 or out_h < 1:
        raise ValueError(f"png: resize target {out_w}x{out_h} must be >= 1x1")
    depth, ch = img.bit_depth, img.channels
    out_stride = (out_w * ch * depth + 7) // 8
    out = bytearray(out_stride * out_h)
    # hoist the x-mapping (identical for every row), and cache the built
    # row per SOURCE row: an upscale maps many output rows to one source
    # row, and re-building identical rows dominates the cost (an 8->224
    # upscale is 8 row builds + 216 memcpys with the cache, 224 builds
    # without)
    xs = [(x * img.width) // out_w for x in range(out_w)]
    last_sy = -1
    last_row: bytes = b""
    for y in range(out_h):
        sy = (y * img.height) // out_h
        base = y * out_stride
        if sy == last_sy:
            out[base : base + out_stride] = last_row
            continue
        if depth >= 8:
            px_bytes = ch * depth // 8
            src_row = img.raw[sy * img.stride : (sy + 1) * img.stride]
            line = bytearray(out_stride)
            for x, sx in enumerate(xs):
                line[x * px_bytes : (x + 1) * px_bytes] = src_row[
                    sx * px_bytes : (sx + 1) * px_bytes
                ]
        else:
            per_byte = 8 // depth
            mask = (1 << depth) - 1
            src_row = img.raw[sy * img.stride : (sy + 1) * img.stride]
            line = bytearray(out_stride)
            for x, sx in enumerate(xs):
                v = (src_row[sx // per_byte] >> (8 - depth * (sx % per_byte + 1))) & mask
                line[x // per_byte] |= v << (8 - depth * (x % per_byte + 1))
        out[base : base + out_stride] = line
        last_sy, last_row = sy, bytes(line)
    return PngImage(
        width=out_w,
        height=out_h,
        bit_depth=depth,
        color_type=img.color_type,
        channels=ch,
        stride=out_stride,
        raw=bytes(out),
        palette=img.palette,
    )
