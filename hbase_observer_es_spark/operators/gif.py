"""GIF decode from the public GIF87a/GIF89a specification, stdlib-only.

The fourth real codec, and the first MULTI-FRAME one: an animated GIF is
real frame-sampled media, so the multimodal family's frame-sampling
story runs on an actual container format instead of a synthetic one.
Same from-spec discipline as PNG/JPEG/WAV (``operators/png.py``,
``operators/jpeg.py``, ``attic/operators/wav.py``): no codec library, loud
failures with ``origin`` context. Implemented:

* header + logical screen descriptor, global/local color tables;
* block walk: extensions (graphic control parsed for delay/disposal/
  transparency; comment/plain-text/application skipped by sub-block
  rule), image descriptors, trailer — a missing trailer or a truncated
  sub-block dies loudly;
* LZW decompression per the spec: variable code width from
  ``min_code_size``+1 up to 12 bits, CLEAR/END codes, the KwKwK case,
  dictionary capped at 4096 with deferred-clear tolerance;
* interlaced images de-interlaced (the 8/8/4/2 four-pass row order);
* frame COMPOSITION into full-canvas RGB: each frame renders onto the
  previous canvas honoring transparency and disposal methods 0/1 (keep),
  2 (restore background — transparent background where the frame sat),
  3 (restore previous); the composed frames are what a training corpus
  wants (what a viewer would see), not the raw sub-rectangles.

Frames come out as :class:`~.png.PngImage` RGB rasters, so resize,
PNG/JPEG re-encode, and the perceptual near-dup hashes compose
unchanged. ``decode_gif`` returns the first composed frame (the static
view); ``gif_frames_frame`` is the Spark fan-out — one binary payload →
one row per sampled composed frame via mapInPandas (the real-media twin
of the synthetic frame-sample operator).

Scale posture: decode runs inside mapInPandas over Arrow batches —
payloads never shuffle, one animation in memory at a time (canvas +
current frame). LZW is a pure-Python loop; the dictionary is lists of
ints with O(1) appends, and frame sampling decodes every frame once
(composition is stateful) but materializes only the sampled ones.

Reference parity: none — builder-brief (LLM-pipeline) multimodal
surface, SURVEY §2-D.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

from .png import MAX_PIXELS, PngImage

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def looks_like_gif(payload: bytes) -> bool:
    return payload[:6] in GIF_MAGICS


@dataclass
class GifFrame:
    """One COMPOSED full-canvas frame: ``image`` is an RGB PngImage of
    the logical screen; ``delay_cs`` is the graphic-control delay in
    centiseconds (0 when absent)."""

    index: int
    delay_cs: int
    image: PngImage


def _read_color_table(data: bytes, pos: int, n: int, origin: str, kind: str):
    end = pos + 3 * n
    if end > len(data):
        raise ValueError(f"gif {origin}: {kind} color table truncated")
    t = data[pos:end]
    return [(t[i], t[i + 1], t[i + 2]) for i in range(0, len(t), 3)], end


def _read_subblocks(data: bytes, pos: int, origin: str) -> tuple:
    """Concatenated sub-block payload + position after the terminator."""
    out = bytearray()
    while True:
        if pos >= len(data):
            raise ValueError(f"gif {origin}: sub-blocks truncated (no terminator)")
        n = data[pos]
        pos += 1
        if n == 0:
            return bytes(out), pos
        if pos + n > len(data):
            raise ValueError(f"gif {origin}: sub-block of {n} bytes overruns the file")
        out += data[pos : pos + n]
        pos += n


def _skip_subblocks(data: bytes, pos: int, origin: str) -> int:
    """Position after a sub-block chain's terminator — the skip-only twin
    of :func:`_read_subblocks` (no payload concatenation)."""
    while True:
        if pos >= len(data):
            raise ValueError(f"gif {origin}: sub-blocks truncated (no terminator)")
        n = data[pos]
        pos += 1
        if n == 0:
            return pos
        if pos + n > len(data):
            raise ValueError(f"gif {origin}: sub-block of {n} bytes overruns the file")
        pos += n


def _lzw_decode(data: bytes, min_code_size: int, expected: int, origin: str) -> bytes:
    """GIF-flavor LZW: LSB-first bit packing, CLEAR = 2^min,
    END = CLEAR+1, code width min+1..12, dictionary cap 4096 (further
    codes arrive at width 12 until CLEAR — the deferred-clear case).
    Exactly ``expected`` indices are produced; more or fewer is loud."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(
            f"gif {origin}: LZW min code size {min_code_size} outside 2..11"
        )
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    bitpos = 0
    nbits = len(data) * 8

    def base_dict():
        return [bytes([i]) for i in range(clear)] + [b"", b""]

    table = base_dict()
    width = min_code_size + 1
    prev = None
    while True:
        if bitpos + width > nbits:
            raise ValueError(
                f"gif {origin}: LZW stream ends without the END code"
            )
        byte = bitpos >> 3
        # LSB-first: assemble up to 3 bytes covering the window
        chunk = data[byte] | (
            (data[byte + 1] << 8) if byte + 1 < len(data) else 0
        ) | ((data[byte + 2] << 16) if byte + 2 < len(data) else 0)
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = base_dict()
            width = min_code_size + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):
                raise ValueError(
                    f"gif {origin}: first LZW code {code} is not a literal"
                )
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]  # the KwKwK case
            table.append(entry)
        else:
            raise ValueError(
                f"gif {origin}: LZW code {code} beyond dictionary size "
                f"{len(table)} — corrupt stream"
            )
        out += entry
        if len(out) > expected:
            raise ValueError(
                f"gif {origin}: LZW produced more than the {expected} "
                "pixels the image descriptor declares"
            )
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    if len(out) != expected:
        raise ValueError(
            f"gif {origin}: LZW produced {len(out)} of {expected} pixels"
        )
    return bytes(out)


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _deinterlace(idx: bytes, w: int, h: int) -> bytes:
    out = bytearray(len(idx))
    src = 0
    for start, step in _INTERLACE_PASSES:
        for y in range(start, h, step):
            out[y * w : (y + 1) * w] = idx[src : src + w]
            src += w
    return bytes(out)


def iter_gif_frames(
    data: bytes,
    origin: str = "<bytes>",
    max_frames: int = 10000,
    max_pixels: int | None = None,
):
    """Composed frames of one GIF, YIELDED one at a time — memory stays
    at canvas + current frame however long the animation runs (samplers
    keep only what they take). ``max_frames`` and ``max_pixels`` are loud
    bomb guards, not silent caps: header-declared geometry is attacker
    data, and a 16-byte file must not be able to demand a multi-GB
    canvas (the png.py bounded-inflate discipline)."""
    if max_pixels is None:
        max_pixels = MAX_PIXELS  # the shared codec-family geometry guard
    if not looks_like_gif(data):
        raise ValueError(
            f"gif {origin}: not a GIF stream (bytes 0-5 {data[:6]!r})"
        )
    if len(data) < 13:
        raise ValueError(f"gif {origin}: truncated logical screen descriptor")
    sw, sh, packed, bg_idx, _aspect = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise ValueError(f"gif {origin}: zero logical screen {sw}x{sh}")
    if sw * sh > max_pixels:
        raise ValueError(
            f"gif {origin}: declared screen {sw}x{sh} exceeds the "
            f"{max_pixels}-pixel guard — raise max_pixels if intentional"
        )
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _read_color_table(
            data, pos, 2 << (packed & 0x07), origin, "global"
        )
    bg_rgb = gct[bg_idx] if gct and bg_idx < len(gct) else (0, 0, 0)
    bg = bytes(bg_rgb)
    canvas = bytearray(bg * (sw * sh))
    n_frames = 0
    delay_cs = 0
    transparent = None
    disposal = 0
    while True:
        if pos >= len(data):
            raise ValueError(f"gif {origin}: stream ends without trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= len(data):
                raise ValueError(f"gif {origin}: truncated extension header")
            label = data[pos]
            pos += 1
            body, pos = _read_subblocks(data, pos, origin)
            if label == 0xF9:  # graphic control
                if len(body) < 4:
                    raise ValueError(
                        f"gif {origin}: graphic control block of "
                        f"{len(body)} bytes (need 4)"
                    )
                gc_packed = body[0]
                delay_cs = body[1] | (body[2] << 8)
                transparent = body[3] if gc_packed & 0x01 else None
                disposal = (gc_packed >> 2) & 0x07
            continue
        if block != 0x2C:
            raise ValueError(
                f"gif {origin}: unknown block 0x{block:02X} at byte {pos - 1}"
            )
        if pos + 9 > len(data):
            raise ValueError(f"gif {origin}: truncated image descriptor")
        left, top, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
        pos += 9
        if iw == 0 or ih == 0 or left + iw > sw or top + ih > sh:
            raise ValueError(
                f"gif {origin}: frame {n_frames} rectangle "
                f"{iw}x{ih}@({left},{top}) outside the {sw}x{sh} screen"
            )
        lct = None
        if ipacked & 0x80:
            lct, pos = _read_color_table(
                data, pos, 2 << (ipacked & 0x07), origin, "local"
            )
        palette = lct if lct is not None else gct
        if palette is None:
            raise ValueError(
                f"gif {origin}: frame {n_frames} has neither local nor "
                "global color table"
            )
        pal = [bytes(c) for c in palette]
        if pos >= len(data):
            raise ValueError(f"gif {origin}: truncated before LZW data")
        min_code = data[pos]
        pos += 1
        lzw, pos = _read_subblocks(data, pos, origin)
        idx = _lzw_decode(lzw, min_code, iw * ih, origin)
        if ipacked & 0x40:
            idx = _deinterlace(idx, iw, ih)
        saved = bytes(canvas) if disposal == 3 else None
        npal = len(pal)
        for y in range(ih):
            crow = (top + y) * sw
            irow = y * iw
            for x in range(iw):
                v = idx[irow + x]
                if transparent is not None and v == transparent:
                    continue
                if v >= npal:
                    raise ValueError(
                        f"gif {origin}: frame {n_frames} pixel index {v} "
                        f"outside the {npal}-entry color table"
                    )
                o = (crow + left + x) * 3
                canvas[o : o + 3] = pal[v]
        yield GifFrame(
            index=n_frames,
            delay_cs=delay_cs,
            image=PngImage(sw, sh, 8, 2, 3, sw * 3, bytes(canvas), None),
        )
        n_frames += 1
        if n_frames > max_frames:
            raise ValueError(
                f"gif {origin}: more than {max_frames} frames — raise "
                "max_frames if this is intentional"
            )
        # disposal AFTER the frame is shown
        if disposal == 2:
            row = bg * iw
            for y in range(ih):
                o = ((top + y) * sw + left) * 3
                canvas[o : o + 3 * iw] = row
        elif disposal == 3 and saved is not None:
            canvas[:] = saved
        delay_cs = 0
        transparent = None
        disposal = 0
    if n_frames == 0:
        raise ValueError(f"gif {origin}: no image data before the trailer")


def parse_gif(data: bytes, origin: str = "<bytes>", max_frames: int = 10000) -> list:
    """All composed frames as a LIST — the test/tooling convenience.
    Holds every frame at once; samplers over long animations should walk
    :func:`iter_gif_frames` instead."""
    return list(iter_gif_frames(data, origin=origin, max_frames=max_frames))


def decode_gif(data: bytes, origin: str = "<bytes>") -> PngImage:
    """The first composed frame — the static view of the file. Stops
    decoding after frame 0 (generator-backed): a thousand-frame
    animation costs one frame."""
    return next(iter_gif_frames(data, origin=origin)).image


def count_gif_frames(
    data: bytes, origin: str = "<bytes>", max_frames: int = 10000
) -> int:
    """Frames PRESENT, from the block-structure walk ALONE — no LZW
    decode, no canvas: skipping a frame costs only its sub-block length
    bytes, so the count is cheap enough for per-payload metadata on the
    registered decode path (``multimodal.decode_image_real``).
    Structural validation matches :func:`iter_gif_frames` (same loud
    truncation / unknown-block / zero-frame / ``max_frames`` errors);
    pixel-level corruption (bad LZW codes, palette overruns) is by
    design NOT detected here — this counts what the container declares,
    and the pixel decoders stay the authority on pixel data."""
    if not looks_like_gif(data):
        raise ValueError(
            f"gif {origin}: not a GIF stream (bytes 0-5 {data[:6]!r})"
        )
    if len(data) < 13:
        raise ValueError(f"gif {origin}: truncated logical screen descriptor")
    packed = data[10]
    pos = 13
    if packed & 0x80:
        end = pos + 3 * (2 << (packed & 0x07))
        if end > len(data):
            raise ValueError(f"gif {origin}: global color table truncated")
        pos = end
    n_frames = 0
    while True:
        if pos >= len(data):
            raise ValueError(f"gif {origin}: stream ends without trailer")
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label byte + sub-blocks
            if pos >= len(data):
                raise ValueError(f"gif {origin}: truncated extension header")
            pos = _skip_subblocks(data, pos + 1, origin)
            continue
        if block != 0x2C:
            raise ValueError(
                f"gif {origin}: unknown block 0x{block:02X} at byte {pos - 1}"
            )
        if pos + 9 > len(data):
            raise ValueError(f"gif {origin}: truncated image descriptor")
        ipacked = data[pos + 8]
        pos += 9
        if ipacked & 0x80:
            end = pos + 3 * (2 << (ipacked & 0x07))
            if end > len(data):
                raise ValueError(f"gif {origin}: local color table truncated")
            pos = end
        if pos >= len(data):
            raise ValueError(f"gif {origin}: truncated before LZW data")
        pos = _skip_subblocks(data, pos + 1, origin)  # +1: min-code byte
        n_frames += 1
        if n_frames > max_frames:
            raise ValueError(
                f"gif {origin}: more than {max_frames} frames — raise "
                "max_frames if this is intentional"
            )
    if n_frames == 0:
        raise ValueError(f"gif {origin}: no image data before the trailer")
    return n_frames


GIF_FRAME_SCHEMA = "frame_idx long, n_frames long, delay_cs long, frame_png binary"


def gif_frames_frame(
    df, every_n: int = 1, payload_col: str = "payload", id_col: str = "doc_id"
):
    """Real-media frame sampling: ONE GIF payload row → one row per
    sampled composed frame (every ``every_n``-th, first always included),
    each re-encoded as PNG bytes for downstream hashing/publication.
    The fan-out happens executor-side per Arrow batch — no shuffle, no
    payload duplication through the JVM; every frame is decoded once
    (composition is stateful) but only sampled frames materialize rows."""
    import pandas as pd

    from .png import encode_png

    if every_n < 1:
        raise ValueError(f"gif: every_n {every_n} must be >= 1")

    def sample(batches):
        for pdf in batches:
            rows = {
                k: []
                for k in (id_col, "frame_idx", "n_frames", "delay_cs", "frame_png")
            }
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                sampled = []
                n = 0
                for f in iter_gif_frames(bytes(payload), origin=str(key)):
                    n += 1
                    if f.index % every_n == 0:
                        sampled.append((f.index, f.delay_cs, encode_png(f.image)))
                for idx_, delay, png_bytes in sampled:
                    rows[id_col].append(key)
                    rows["frame_idx"].append(idx_)
                    rows["n_frames"].append(n)
                    rows["delay_cs"].append(delay)
                    rows["frame_png"].append(png_bytes)
            yield pd.DataFrame(rows)

    return df.mapInPandas(sample, f"{id_col} long, {GIF_FRAME_SCHEMA}")
