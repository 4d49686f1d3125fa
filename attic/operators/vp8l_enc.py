"""Deterministic lossless-WebP (VP8L) ENCODER — the round-trip partner.

The codec family's convention (``png.encode_png``,
``jpeg.encode_jpeg`` / ``encode_jpeg_progressive``,
``pdf_text.write_pdf``): every from-spec decoder gains a deterministic
writer in the package so (a) round trips pin the decoder from the
production side — the independent hand-packed encoder in
``tests/test_vp8l.py`` keeps pinning it from the test side — and
(b) the corpus demo can synthesize real payloads (here: still AND
animated lossless WebP) without shipping test code to executors.

Encoding strategy, chosen for determinism and simplicity rather than
ratio: no transforms, no color cache, no LZ77 — one literal-only
prefix-coded stream per image, with complete canonical codes of
near-balanced lengths (the m = 2^L − n shortest-first assignment) and
the spec's simple-code form whenever a channel uses ≤ 2 byte values.
Every bit written is from the public VP8L bitstream layout: the
14-bit-minus-one size header, the code-length-code permutation, the
MSB-first prefix codes riding the LSB-first stream. This is a valid,
universally decodable VP8L stream — just not a small one; a corpus
pipeline stores what it ingests and re-encodes only derived artifacts
(thumbnails, census arms), where determinism beats ratio.

Animated output composes the WebP container side (VP8X + ANIM + ANMF)
with full-canvas frames, overwrite blending, and keep disposal — the
deterministic subset ``operators/webpanim.py`` round-trips exactly.

Reference parity: none — builder-brief multimodal surface, SURVEY §2-D.
"""

from __future__ import annotations

import struct

from hbase_observer_es_spark.operators.png import PngImage

# the spec's code-length-code write order
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)


class _BitWriter:
    """LSB-first bit accumulator (the VP8L orientation); prefix codes
    enter MSB-first per the spec. Completed bytes flush into a
    bytearray so the pending window stays a small int — an
    all-in-one-big-int accumulator re-copies the whole stream on every
    put and goes quadratic on real rasters."""

    __slots__ = ("_out", "_bits", "_nbits")

    def __init__(self) -> None:
        self._out = bytearray()
        self._bits = 0
        self._nbits = 0

    def put(self, val: int, n: int) -> None:
        self._bits |= (val & ((1 << n) - 1)) << self._nbits
        self._nbits += n
        while self._nbits >= 8:
            self._out.append(self._bits & 0xFF)
            self._bits >>= 8
            self._nbits -= 8

    def put_code(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.put((code >> i) & 1, 1)

    def tobytes(self) -> bytes:
        out = bytes(self._out)
        if self._nbits:
            out += bytes([self._bits & 0xFF])
        return out


def _balanced_lengths(symbols: list) -> dict:
    """Complete canonical code over ``symbols``: with n symbols and
    L = ceil(log2 n), the first m = 2^L − n (in symbol order) get
    length L−1 and the rest L — Kraft-complete by construction."""
    n = len(symbols)
    if n == 1:
        return {symbols[0]: 0}
    top = (n - 1).bit_length()
    m = (1 << top) - n
    return {
        s: top - 1 if i < m else top for i, s in enumerate(sorted(symbols))
    }


def _canonical(lengths: dict) -> dict:
    """{symbol: length} → {symbol: (code, length)} canonical assignment
    (shorter lengths first, ties by symbol — the DEFLATE rule the VP8L
    decoder reconstructs)."""
    live = sorted(lengths.items(), key=lambda t: (t[1], t[0]))
    codes = {}
    code = 0
    prev = live[0][1]
    for s, ln in live:
        code <<= ln - prev
        prev = ln
        codes[s] = (code, ln)
        code += 1
    return codes


def _write_code(w: _BitWriter, alphabet: int, symbols: list) -> dict:
    """Emit one prefix-code DEFINITION and return {symbol: (code, len)}.
    Simple form for ≤2 used byte values, else the normal form with all
    19 code-length-code slots and literal (unrepeated) length entries."""
    used = sorted(set(symbols))
    if len(used) <= 2 and used[-1] <= 255:
        w.put(1, 1)  # simple code
        w.put(len(used) - 1, 1)
        first = used[0]
        if first > 1:
            w.put(1, 1)
            w.put(first, 8)
        else:
            w.put(0, 1)
            w.put(first, 1)
        if len(used) == 2:
            w.put(used[1], 8)
            return {used[0]: (0, 1), used[1]: (1, 1)}
        return {used[0]: (0, 0)}
    w.put(0, 1)  # normal form
    sym_lengths = _balanced_lengths(used)
    lengths = [sym_lengths.get(s, 0) for s in range(alphabet)]
    cl_used = sorted(set(lengths))
    if len(cl_used) == 1:
        # every slot has the same length (a 256-symbol alphabet fully
        # used): a one-symbol code-length code would be written as all
        # zeros — an EMPTY prefix code the decoder rightly rejects. Pad
        # the CLC alphabet with the unused 0 so both symbols get a
        # 1-bit code and the table stays decodable.
        cl_used = [0] + cl_used
    cl_lengths = _balanced_lengths(cl_used)
    cl_codes = _canonical(cl_lengths)
    w.put(19 - 4, 4)  # announce all 19 code-length-code slots
    for s in _CLC_ORDER:
        w.put(cl_lengths.get(s, 0), 3)
    w.put(0, 1)  # no max-symbol cap
    for ln in lengths:
        w.put_code(*cl_codes[ln])
    return _canonical(sym_lengths)


def _write_literal_stream(w: _BitWriter, pixels: list, level0: bool) -> None:
    """One literal-only entropy image for a row-major ARGB pixel list:
    no color cache, and for the top-level stream no meta prefix image —
    a single prefix-code group covers every pixel."""
    w.put(0, 1)  # no color cache
    if level0:
        w.put(0, 1)  # no meta prefix image
    greens = [(p >> 8) & 0xFF for p in pixels]
    reds = [(p >> 16) & 0xFF for p in pixels]
    blues = [p & 0xFF for p in pixels]
    alphas = [(p >> 24) & 0xFF for p in pixels]
    g = _write_code(w, 256 + 24, greens)
    r = _write_code(w, 256, reds)
    b = _write_code(w, 256, blues)
    a = _write_code(w, 256, alphas)
    _write_code(w, 40, [0])  # distance code: unused, single symbol
    for i, p in enumerate(pixels):
        w.put_code(*g[greens[i]])
        w.put_code(*r[reds[i]])
        w.put_code(*b[blues[i]])
        w.put_code(*a[alphas[i]])


def encode_vp8l(
    width: int, height: int, pixels: list, origin: str = "<encode>"
) -> bytes:
    """Row-major ARGB ints → a complete VP8L chunk body (signature byte,
    size header, transform-free literal stream)."""
    if not (1 <= width <= 0x4000 and 1 <= height <= 0x4000):
        raise ValueError(
            f"vp8l {origin}: geometry {width}x{height} outside the "
            "14-bit 1..16384 range"
        )
    if len(pixels) != width * height:
        raise ValueError(
            f"vp8l {origin}: {len(pixels)} pixels for {width}x{height}"
        )
    w = _BitWriter()
    w.put(width - 1, 14)
    w.put(height - 1, 14)
    w.put(1 if any((p >> 24) & 0xFF != 0xFF for p in pixels) else 0, 1)
    w.put(0, 3)  # version
    w.put(0, 1)  # end of transforms
    _write_literal_stream(w, pixels, level0=True)
    return b"\x2f" + w.tobytes()


def _chunk(cc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) & 1 else b""
    return cc + struct.pack("<I", len(body)) + body + pad


def _riff(*chunks: bytes) -> bytes:
    body = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _img_argb(img: PngImage, origin: str) -> list:
    """8-bit RGB (or grayscale, replicated to RGB — WebP has no gray
    mode) PngImage → ARGB list (alpha 255). On the RGB subset
    encode∘decode is the identity raster."""
    if (img.bit_depth, img.color_type, img.channels) == (8, 2, 3):
        raw = img.raw
        out = []
        for y in range(img.height):
            o = y * img.stride
            for x in range(img.width):
                i = o + x * 3
                out.append(
                    0xFF000000 | (raw[i] << 16) | (raw[i + 1] << 8) | raw[i + 2]
                )
        return out
    if (img.bit_depth, img.color_type, img.channels) == (8, 0, 1):
        raw = img.raw
        return [
            0xFF000000 | (v << 16) | (v << 8) | v
            for y in range(img.height)
            for v in raw[y * img.stride : y * img.stride + img.width]
        ]
    raise ValueError(
        f"webp {origin}: encoder takes 8-bit RGB or grayscale rasters, "
        f"got depth {img.bit_depth} color_type {img.color_type}"
    )


def write_webp(img: PngImage, origin: str = "<encode>") -> bytes:
    """One 8-bit RGB raster → a still lossless WebP file."""
    body = encode_vp8l(
        img.width, img.height, _img_argb(img, origin), origin
    )
    return _riff(_chunk(b"VP8L", body))


def write_webp_anim(
    frames: list,
    bg_rgba: tuple = (0, 0, 0, 255),
    loops: int = 0,
    origin: str = "<encode>",
) -> bytes:
    """``[(duration_ms, PngImage), ...]`` → an animated lossless WebP:
    every frame full-canvas at (0,0), overwrite blending, keep disposal
    — the deterministic subset whose composition is the frame itself,
    so ``webpanim.iter_webp_frames`` round-trips the input rasters
    pixel-identically."""
    if not frames:
        raise ValueError(f"webp {origin}: animation needs at least one frame")
    cw, ch = frames[0][1].width, frames[0][1].height
    chunks = []
    for i, (dur, img) in enumerate(frames):
        if (img.width, img.height) != (cw, ch):
            raise ValueError(
                f"webp {origin}: frame {i} is {img.width}x{img.height}, "
                f"canvas is {cw}x{ch} (full-canvas frames only)"
            )
        if not 0 <= dur < 1 << 24:
            raise ValueError(f"webp {origin}: frame {i} duration {dur} ms")
        body = encode_vp8l(cw, ch, _img_argb(img, origin), f"{origin}[{i}]")
        hdr = (
            b"\x00\x00\x00" * 2  # x/2 = y/2 = 0
            + (cw - 1).to_bytes(3, "little")
            + (ch - 1).to_bytes(3, "little")
            + dur.to_bytes(3, "little")
            + bytes([0x02])  # no-blend, keep disposal
        )
        chunks.append(_chunk(b"ANMF", hdr + _chunk(b"VP8L", body)))
    r, g, b, a = bg_rgba
    vp8x = _chunk(
        b"VP8X",
        bytes([0x02, 0, 0, 0])
        + (cw - 1).to_bytes(3, "little")
        + (ch - 1).to_bytes(3, "little"),
    )
    anim = _chunk(b"ANIM", bytes([b, g, r, a]) + loops.to_bytes(2, "little"))
    return _riff(vp8x, anim, *chunks)
