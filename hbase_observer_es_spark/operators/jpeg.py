"""JPEG decode from the public specification (ITU-T T.81), stdlib-only.

The third real codec (after PNG — ``operators/png.py`` — and WAV —
``attic/operators/wav.py``), closing the most common web-image format with the
same from-spec discipline: no codec library, every byte handled per the
published standard, corruption dies loudly with ``origin`` context.
Implemented subset — baseline sequential DCT (SOF0/SOF1) AND progressive
DCT (SOF2: spectral selection + successive approximation, T.81 annex G),
Huffman entropy coding, 8-bit AND 12-bit sample precision (together the
overwhelming majority of JPEGs in a scraped corpus; 12-bit — legal in
SOF1/SOF2 per T.81 table B.2, medical/scientific exports — decodes at
full precision through dequantization and the IDCT, then renders to the
8-bit PngImage surface by the deterministic high-nibble map
``sample >> 4``, so the whole downstream pixel stack stays 8-bit):

* marker stream walk: SOI, APPn/COM skipped, DQT (8- and 16-bit element
  precision, zigzag order), DHT (canonical code reconstruction via the
  spec's BITS/HUFFVAL algorithm, F.2.2.3 decode), SOF0/SOF1/SOF2, DRI,
  SOS, EOI; arithmetic-coded sequential (SOF9) AND progressive (SOF10)
  decode for real via the Annex D QM decoder in :mod:`.jpeg_arith`
  (r16); arithmetic-coded lossless, hierarchical, and lossless frames
  are refused BY NAME — never mis-decoded;
* progressive scan scripts: interleaved/non-interleaved DC scans,
  single-component AC band scans with EOB runs, refinement scans
  (G.1.2.2/G.1.2.3 — correction bits over nonzero history), per-band
  successive-approximation state tracked so an out-of-order or
  incomplete scan script dies loudly instead of rendering a half
  image;
* entropy-coded segment reader with 0xFF00 byte-stuffing removal and
  RSTn restart handling (byte-align, marker sequence verified, DC
  predictors reset);
* per-block decode: DC prediction + EXTEND sign recovery, AC
  run/size loop with ZRL and EOB, dequantization, zigzag→natural
  placement;
* IDCT: separable fixed-point integer transform — the 8×8 constant
  table is ``round(a(u)·cos((2x+1)uπ/16)·2^13)`` hardcoded as literals
  (no libm at runtime, the engine's D10 determinism rule), accumulated
  in unbounded Python ints with a single final rounding, so every host
  reconstructs identical pixels;
* sampling factors 1–4 per component (4:4:4, 4:2:0, 4:2:2, 4:1:1 …)
  with replicate (nearest) chroma upsampling — the spec leaves the
  upsampling filter to the decoder, and replicate is the deterministic
  integer choice;
* YCbCr→RGB with the public 16-bit fixed-point coefficients
  (``round(c·65536)``), saturating clamp; 1-component frames decode as
  grayscale; 4-component (Adobe CMYK) refused by name.

Output is a :class:`~.png.PngImage` (8-bit gray or RGB, interlace-free
raw scanlines), so the entire downstream pixel stack — ``resize_nearest``,
``encode_png``, the perceptual hashes in ``attic/operators/imagehash.py`` —
works on JPEG payloads unchanged.

Scale posture: like PNG, decode runs inside the multimodal mapInPandas
stages (one payload per Python call within an Arrow batch) — pixels never
cross a shuffle. The per-block cost is a pure-Python Huffman walk plus
~1k fixed-point multiplies (DC-only blocks take a flat-fill fast path);
for corpus-scale pixel work the block loop is the piece to swap for a
vectorized kernel, with the marker/Huffman layers unchanged.

Reference parity: none — the reference has no media surface; builder-brief
(LLM-pipeline) surface extending SURVEY §2-D's real-codec family.
"""

from __future__ import annotations

import struct
from array import array

from .png import MAX_PIXELS as _MAX_PIXELS
from .png import PngImage

JPEG_MAGIC = b"\xff\xd8"

# round(a(u) * cos((2x+1) * u * pi / 16) * 2^13), a(0)=1/sqrt(2) else 1 —
# fixed-point literals so no libm call happens at runtime; pinned against
# an independent float derivation in tests
_A = (
    (5793, 5793, 5793, 5793, 5793, 5793, 5793, 5793),
    (8035, 6811, 4551, 1598, -1598, -4551, -6811, -8035),
    (7568, 3135, -3135, -7568, -7568, -3135, 3135, 7568),
    (6811, -1598, -8035, -4551, 4551, 8035, 1598, -6811),
    (5793, -5793, -5793, 5793, 5793, -5793, -5793, 5793),
    (4551, -8035, 1598, 6811, -6811, -1598, 8035, -4551),
    (3135, -7568, 7568, -3135, -3135, 7568, -7568, 3135),
    (1598, -4551, 6811, -8035, 8035, -6811, 4551, -1598),
)

# YCbCr -> RGB, round(c * 65536): 1.402, 0.344136, 0.714136, 1.772
_CR_R, _CB_G, _CR_G, _CB_B = 91881, 22553, 46802, 116130

_REFUSED_SOF = {
    0xC3: "lossless (SOF3)",
    0xC5: "differential sequential (SOF5)",
    0xC6: "differential progressive (SOF6)",
    0xC7: "differential lossless (SOF7)",
    0xCB: "arithmetic-coded lossless (SOF11)",
    0xCD: "differential arithmetic sequential (SOF13)",
    0xCE: "differential arithmetic progressive (SOF14)",
    0xCF: "differential arithmetic lossless (SOF15)",
}


def _zigzag() -> tuple:
    """Zigzag index k → natural 8×8 position, derived by the spec's
    diagonal walk (generated, not typed — a transposition typo would
    scramble every AC coefficient)."""
    out = [0] * 64
    r = c = 0
    up = True
    for k in range(64):
        out[k] = r * 8 + c
        if up:
            if c == 7:
                r += 1
                up = False
            elif r == 0:
                c += 1
                up = False
            else:
                r -= 1
                c += 1
        else:
            if r == 7:
                c += 1
                up = True
            elif c == 0:
                r += 1
                up = True
            else:
                r += 1
                c -= 1
    return tuple(out)


ZIGZAG = _zigzag()


def looks_like_jpeg(payload: bytes) -> bool:
    return payload[:2] == JPEG_MAGIC


class _HuffTable:
    """Canonical Huffman decode table built from the spec's BITS/HUFFVAL
    lists (annex C): per code length, the smallest/largest code and the
    index of the first value — the F.2.2.3 decode walk."""

    __slots__ = ("mincode", "maxcode", "valptr", "huffval")

    def __init__(self, bits: list, huffval: bytes, origin: str, name: str):
        if sum(bits) != len(huffval):
            raise ValueError(
                f"jpeg {origin}: huffman table {name} declares {sum(bits)} "
                f"codes but carries {len(huffval)} values"
            )
        self.huffval = huffval
        self.mincode = [0] * 17
        self.maxcode = [-1] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for length in range(1, 17):
            if bits[length - 1]:
                self.valptr[length] = k
                self.mincode[length] = code
                code += bits[length - 1]
                k += bits[length - 1]
                self.maxcode[length] = code - 1
            code <<= 1
            if code > (1 << length + 1):
                raise ValueError(
                    f"jpeg {origin}: huffman table {name} overflows at "
                    f"length {length} — corrupt BITS list"
                )


class _BitReader:
    """Entropy-coded-segment bit reader: MSB-first, 0xFF00 stuffing
    dropped, restart markers surfaced to the caller, any other marker
    inside a scan is a loud error."""

    def __init__(self, data: bytes, pos: int, origin: str):
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.origin = origin

    def _fill(self) -> None:
        d = self.data
        if self.pos >= len(d):
            raise ValueError(
                f"jpeg {self.origin}: entropy data exhausted mid-scan"
            )
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2
            elif nxt is not None and 0xD0 <= nxt <= 0xD7:
                raise ValueError(
                    f"jpeg {self.origin}: restart marker inside an entropy "
                    "run — MCU/restart-interval accounting is corrupt"
                )
            else:
                raise ValueError(
                    f"jpeg {self.origin}: marker 0xFF{nxt:02X} inside "
                    "entropy data — truncated or corrupt scan"
                    if nxt is not None
                    else f"jpeg {self.origin}: entropy data ends on 0xFF"
                )
        else:
            self.pos += 1
        # mask consumed high bits away — an unmasked buffer grows into a
        # bignum over a long scan and turns bit reads quadratic
        self.bitbuf = ((self.bitbuf & ((1 << self.nbits) - 1)) << 8) | b
        self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def decode(self, table: _HuffTable, what: str) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            if table.maxcode[length] >= code >= table.mincode[length]:
                return table.huffval[table.valptr[length] + code - table.mincode[length]]
        raise ValueError(
            f"jpeg {self.origin}: invalid {what} huffman code (no match "
            "within 16 bits) — corrupt entropy data"
        )

    def align_and_expect_rst(self, n: int) -> None:
        """Restart boundary: drop partial-byte bits, consume RSTn, verify
        the modulo-8 sequence number. Any number of 0xFF fill bytes may
        precede the marker (T.81 B.1.1.2)."""
        self.nbits = 0
        d = self.data
        if self.pos >= len(d) or d[self.pos] != 0xFF:
            raise ValueError(
                f"jpeg {self.origin}: expected restart marker RST{n}, "
                f"found byte 0x{d[self.pos]:02X}" if self.pos < len(d)
                else f"jpeg {self.origin}: truncated at restart boundary"
            )
        while self.pos + 1 < len(d) and d[self.pos + 1] == 0xFF:
            self.pos += 1  # fill bytes before the marker are legal
        if self.pos + 1 >= len(d):
            raise ValueError(
                f"jpeg {self.origin}: truncated at restart boundary"
            )
        m = d[self.pos + 1]
        if m != 0xD0 + n:
            raise ValueError(
                f"jpeg {self.origin}: restart sequence broken — expected "
                f"RST{n} (0xFFD{n}), found 0xFF{m:02X}"
            )
        self.pos += 2


def _extend(v: int, t: int) -> int:
    """F.2.4.3.1.1 EXTEND: map a t-bit magnitude to its signed value."""
    return v - (1 << t) + 1 if t and v < (1 << (t - 1)) else v


def _idct_block(coef: list, level: int = 128, maxv: int = 255) -> list:
    """Fixed-point separable 2-D inverse DCT of one dequantized block
    (natural order), +``level`` level shift (2^(P-1): 128 for 8-bit,
    2048 for 12-bit), clamped 0..``maxv``. Accumulation is exact
    (unbounded ints); the one rounding is the final >> 28 with
    add-half. DC-only blocks take the flat fast path."""
    if not any(coef[1:]):
        v = ((coef[0] * 5793 * 5793 + (1 << 27)) >> 28) + level
        v = 0 if v < 0 else maxv if v > maxv else v
        return [v] * 64
    # natural index r*8+c: r = vertical frequency (couples with y),
    # c = horizontal (couples with x) — the spec's row-major layout.
    # pass 1 (rows): tmp[r*8+x] = sum_c coef[r*8+c] * A[c][x]
    tmp = [0] * 64
    for r in range(8):
        row = coef[r * 8 : r * 8 + 8]
        if not any(row):
            continue
        base = r * 8
        for x in range(8):
            s = 0
            for c in range(8):
                cv = row[c]
                if cv:
                    s += cv * _A[c][x]
            tmp[base + x] = s
    # pass 2 (columns): out[y*8+x] = sum_r tmp[r*8+x] * A[r][y]
    out = [0] * 64
    for x in range(8):
        col = [tmp[r * 8 + x] for r in range(8)]
        for y in range(8):
            s = 0
            for r in range(8):
                tv = col[r]
                if tv:
                    s += tv * _A[r][y]
            p = ((s + (1 << 27)) >> 28) + level
            out[y * 8 + x] = 0 if p < 0 else maxv if p > maxv else p
    return out


def _render_row(px: list, yy: int, prec: int) -> bytes:
    """One 8-pixel block row rendered to the 8-bit plane surface — the
    single definition of the 12-bit high-nibble map (sample >> 4) so no
    decode path can drift from another."""
    seg8 = px[yy * 8 : yy * 8 + 8]
    return bytes(seg8) if prec == 8 else bytes(p >> 4 for p in seg8)


def _parse_dqt(seg: bytes, qtables: dict, origin: str) -> None:
    """DQT segment body → zigzag-order quant tables (8- or 16-bit
    elements); zero quantizers refused. Shared by both coding processes."""
    o = 0
    while o < len(seg):
        pq, tq = seg[o] >> 4, seg[o] & 0x0F
        o += 1
        if pq not in (0, 1):
            raise ValueError(f"jpeg {origin}: DQT precision {pq} invalid")
        width = 2 if pq else 1
        if o + 64 * width > len(seg):
            raise ValueError(f"jpeg {origin}: DQT table {tq} truncated")
        if pq:
            vals = list(struct.unpack(">64H", seg[o : o + 128]))
        else:
            vals = list(seg[o : o + 64])
        if 0 in vals:
            raise ValueError(
                f"jpeg {origin}: DQT table {tq} contains a zero quantizer"
            )
        qtables[tq] = vals  # zigzag order, as stored
        o += 64 * width


def _parse_dht(seg: bytes, dc_tables: dict, ac_tables: dict, origin: str) -> None:
    """DHT segment body → canonical Huffman tables into the dc/ac maps.
    Shared by both coding processes."""
    o = 0
    while o < len(seg):
        if o + 17 > len(seg):
            raise ValueError(f"jpeg {origin}: DHT header truncated")
        tc, th = seg[o] >> 4, seg[o] & 0x0F
        bits = list(seg[o + 1 : o + 17])
        nvals = sum(bits)
        o += 17
        if o + nvals > len(seg):
            raise ValueError(
                f"jpeg {origin}: DHT table {tc}/{th} values truncated"
            )
        table = _HuffTable(
            bits, seg[o : o + nvals], origin, f"{'dc' if tc == 0 else 'ac'}{th}"
        )
        o += nvals
        if tc == 0:
            dc_tables[th] = table
        elif tc == 1:
            ac_tables[th] = table
        else:
            raise ValueError(f"jpeg {origin}: DHT class {tc} invalid")


def decode_jpeg(data: bytes, origin: str = "<bytes>") -> PngImage:
    """Decode one baseline JPEG byte stream to an 8-bit gray or RGB
    :class:`PngImage`. Fail-loud with ``origin`` context on structural
    violations; non-baseline coding processes refused by name."""
    if not looks_like_jpeg(data):
        raise ValueError(
            f"jpeg {origin}: not a JPEG stream (bytes 0-1 {data[:2]!r})"
        )
    pos = 2
    qtables: dict = {}
    dc_tables: dict = {}
    ac_tables: dict = {}
    frame = None  # (height, width, [(cid, h, v, tq)])
    restart_interval = 0
    n = len(data)
    while True:
        if pos + 2 > n:
            raise ValueError(f"jpeg {origin}: truncated before SOS")
        if data[pos] != 0xFF:
            raise ValueError(
                f"jpeg {origin}: expected marker at byte {pos}, found "
                f"0x{data[pos]:02X}"
            )
        while pos < n and data[pos] == 0xFF:
            pos += 1  # fill bytes are legal between markers
        if pos >= n:
            raise ValueError(f"jpeg {origin}: truncated marker at stream end")
        marker = data[pos]
        pos += 1
        if marker == 0xD9:  # EOI before SOS
            raise ValueError(f"jpeg {origin}: EOI before any scan")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # TEM / stray RST: no segment body
        if pos + 2 > n:
            raise ValueError(f"jpeg {origin}: truncated segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if seglen < 2 or pos + seglen > n:
            raise ValueError(
                f"jpeg {origin}: segment 0xFF{marker:02X} length {seglen} "
                "overruns the stream"
            )
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xC2:  # SOF2: hand the whole stream to annex G
            return _decode_progressive(data, origin)
        if marker == 0xC9:  # SOF9: arithmetic sequential (annex D + F.2.4)
            from .jpeg_arith import decode_jpeg_arith

            return decode_jpeg_arith(data, origin)
        if marker == 0xCA:  # SOF10: arithmetic progressive (annex D + G.2)
            from .jpeg_arith import decode_jpeg_arith_progressive

            return decode_jpeg_arith_progressive(data, origin)
        if marker in _REFUSED_SOF:
            raise ValueError(
                f"jpeg {origin}: {_REFUSED_SOF[marker]} coding process "
                "unsupported (baseline sequential or progressive huffman "
                "only)"
            )
        if marker == 0xDB:  # DQT
            _parse_dqt(seg, qtables, origin)
        elif marker == 0xC4:  # DHT
            _parse_dht(seg, dc_tables, ac_tables, origin)
        elif marker in (0xC0, 0xC1):  # SOF0 / SOF1
            if frame is not None:
                raise ValueError(f"jpeg {origin}: duplicate frame header")
            frame = _parse_sof_body(seg, origin, marker)
        elif marker == 0xDD:  # DRI
            if len(seg) < 2:
                raise ValueError(
                    f"jpeg {origin}: DRI segment body truncated"
                )
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError(f"jpeg {origin}: SOS before SOF")
            break
        # APPn (0xE0-0xEF), COM (0xFE), others with a body: skipped
    height, width, comps, prec = frame
    # 12-bit samples decode at full precision through dequantization and
    # the IDCT, then render to the 8-bit PngImage surface by the
    # deterministic high-nibble map (sample >> 4) at block placement —
    # every downstream consumer (resize, hashes, PNG re-encode) is 8-bit
    dc_cat_max = prec + 3  # T.81 table F.1: 11 for 8-bit, 15 for 12-bit
    level, maxv = 1 << (prec - 1), (1 << prec) - 1
    if not seg:
        raise ValueError(f"jpeg {origin}: SOS segment body truncated")
    ns = seg[0]
    if ns != len(comps):
        raise ValueError(
            f"jpeg {origin}: scan covers {ns} of {len(comps)} components — "
            "only the single interleaved baseline scan is supported"
        )
    if len(seg) < 1 + ns * 2 + 3:
        raise ValueError(f"jpeg {origin}: SOS header truncated")
    scan_tables = {}
    for i in range(ns):
        cs, tdta = seg[1 + i * 2 : 3 + i * 2]
        scan_tables[cs] = (tdta >> 4, tdta & 0x0F)
    ss, se, ahal = seg[1 + ns * 2 : 4 + ns * 2]
    if (ss, se, ahal) != (0, 63, 0):
        raise ValueError(
            f"jpeg {origin}: spectral selection {ss}..{se}/{ahal:02x} is "
            "not the baseline full scan"
        )
    if len(comps) == 1:
        # a single-component scan is non-interleaved by definition (T.81
        # A.2.2): the MCU is ONE data unit and the block raster covers the
        # full-resolution plane — declared sampling factors don't apply
        cid, _, _, tq = comps[0]
        comps = [(cid, 1, 1, tq)]
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    mcus_x = -(-width // (8 * hmax))
    mcus_y = -(-height // (8 * vmax))
    planes = []
    metas = []  # (h, v, plane_w, dc_table, ac_table, qtable)
    for cid, h, v, tq in comps:
        if tq not in qtables:
            raise ValueError(f"jpeg {origin}: component quant table {tq} undefined")
        if cid not in scan_tables:
            raise ValueError(
                f"jpeg {origin}: scan names component ids "
                f"{sorted(scan_tables)} but the frame has id {cid}"
            )
        td, ta = scan_tables[cid]
        if td not in dc_tables or ta not in ac_tables:
            raise ValueError(
                f"jpeg {origin}: huffman tables dc{td}/ac{ta} undefined"
            )
        pw, ph = mcus_x * h * 8, mcus_y * v * 8
        planes.append(bytearray(pw * ph))
        metas.append((h, v, pw, dc_tables[td], ac_tables[ta], qtables[tq]))
    reader = _BitReader(data, pos, origin)
    preds = [0] * len(comps)
    rst_n = 0
    since_restart = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            if restart_interval and since_restart == restart_interval:
                reader.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) % 8
                preds = [0] * len(comps)
                since_restart = 0
            for ci, (h, v, pw, dct, act, qt) in enumerate(metas):
                for by in range(v):
                    for bx in range(h):
                        coef = [0] * 64
                        t = reader.decode(dct, "dc")
                        if t > dc_cat_max:
                            raise ValueError(
                                f"jpeg {origin}: DC magnitude category {t} "
                                f"exceeds the {prec}-bit limit {dc_cat_max}"
                            )
                        preds[ci] += _extend(reader.receive(t), t)
                        coef[0] = preds[ci] * qt[0]
                        k = 1
                        while k <= 63:
                            rs = reader.decode(act, "ac")
                            r, s = rs >> 4, rs & 0x0F
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    f"jpeg {origin}: AC run overflows the "
                                    "block — corrupt entropy data"
                                )
                            coef[ZIGZAG[k]] = _extend(reader.receive(s), s) * qt[k]
                            k += 1
                        px = _idct_block(coef, level, maxv)
                        ox = (mx * h + bx) * 8
                        oy = (my * v + by) * 8
                        plane = planes[ci]
                        for yy in range(8):
                            row = (oy + yy) * pw + ox
                            plane[row : row + 8] = _render_row(px, yy, prec)
            since_restart += 1
    return _assemble_image(width, height, [m[:3] for m in metas], planes,
                           hmax, vmax)


def _assemble_image(
    width: int, height: int, geom: list, planes: list, hmax: int, vmax: int
) -> PngImage:
    """Component planes → PngImage: crop the MCU-padded planes, upsample
    subsampled chroma by the integer floor map, YCbCr→RGB with the
    fixed-point BT.601 literals. ``geom`` is [(h, v, plane_w)] per
    component. Shared by the baseline and progressive decoders — the
    coding processes differ only in how coefficients arrive."""
    if len(geom) == 1:
        pw = geom[0][2]
        plane = planes[0]
        raw = bytearray(width * height)
        for y in range(height):
            raw[y * width : (y + 1) * width] = plane[y * pw : y * pw + width]
        return PngImage(width, height, 8, 0, 1, width, bytes(raw), None)
    raw = bytearray(width * height * 3)
    (hy, vy, pwy), (hb, vb, pwb), (hr, vr, pwr) = geom
    py, pb, pr = planes
    for y in range(height):
        yy_y = (y * vy) // vmax
        yy_b = (y * vb) // vmax
        yy_r = (y * vr) // vmax
        o = y * width * 3
        for x in range(width):
            lum = py[yy_y * pwy + (x * hy) // hmax]
            cb = pb[yy_b * pwb + (x * hb) // hmax] - 128
            cr = pr[yy_r * pwr + (x * hr) // hmax] - 128
            r = lum + ((_CR_R * cr + 32768) >> 16)
            g = lum - ((_CB_G * cb + _CR_G * cr + 32768) >> 16)
            b = lum + ((_CB_B * cb + 32768) >> 16)
            raw[o] = 0 if r < 0 else 255 if r > 255 else r
            raw[o + 1] = 0 if g < 0 else 255 if g > 255 else g
            raw[o + 2] = 0 if b < 0 else 255 if b > 255 else b
            o += 3
    return PngImage(width, height, 8, 2, 3, width * 3, bytes(raw), None)


# ------------------------------------------------- progressive (annex G)


def _decode_progressive(data: bytes, origin: str) -> PngImage:
    """Progressive DCT decode (T.81 SOF2 + annex G): the scan script
    delivers coefficients in pieces — DC first, then AC bands (spectral
    selection), each band optionally bit-plane by bit-plane (successive
    approximation) — accumulated into per-component coefficient grids and
    dequantized + IDCTed ONCE at EOI.

    Fail-loud contract extends to the scan script itself: per-component
    per-coefficient approximation state is tracked, so a refinement
    without its first scan, a band scanned twice at the same level, a
    skipped bit plane, or a stream that ends before every band reaches
    Al=0 is a ValueError — never a silently half-rendered image. DC
    magnitude ≤ 11 / AC refinement size == 1 are enforced as in the
    sequential path; restarts reset DC predictors AND the EOB run."""
    pos = 2
    qtables: dict = {}
    dc_tables: dict = {}
    ac_tables: dict = {}
    frame = None
    restart_interval = 0
    n = len(data)
    # per component: ONE flat array("i") of 64*n_blocks coefficients in
    # zigzag order (block b's band k lives at b*64+k). Flat int32 storage
    # keeps the pre-entropy allocation at 256 B/block — the same order as
    # the baseline path's plane bytearrays — where per-block Python lists
    # would cost ~500+ B/block from a few-dozen-byte crafted SOF2 file.
    coefs: list = []
    metas: list = []  # (h, v, bw_pad, bh_pad, bw_ni, bh_ni, tq)
    dc_al: list = []  # per component: None until first DC scan, else next Al
    ac_al: list = []  # per component: [None]*64 band approximation state
    mcus_x = mcus_y = hmax = vmax = 0
    cid_index: dict = {}
    while True:
        if pos + 2 > n:
            raise ValueError(f"jpeg {origin}: truncated before EOI")
        if data[pos] != 0xFF:
            raise ValueError(
                f"jpeg {origin}: expected marker at byte {pos}, found "
                f"0x{data[pos]:02X}"
            )
        while pos < n and data[pos] == 0xFF:
            pos += 1
        if pos >= n:
            raise ValueError(f"jpeg {origin}: truncated marker at stream end")
        marker = data[pos]
        pos += 1
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > n:
            raise ValueError(f"jpeg {origin}: truncated segment header")
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        if seglen < 2 or pos + seglen > n:
            raise ValueError(
                f"jpeg {origin}: segment 0xFF{marker:02X} length {seglen} "
                "overruns the stream"
            )
        seg = data[pos + 2 : pos + seglen]
        pos += seglen
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC2, 0xC8, 0xCC):
            # every SOF flavor (incl. the r16-decodable SOF9/SOF10) is a
            # SECOND frame header here; C4/CC are DHT/DAC, C8 is JPG
            # (reserved, no SOF semantics), and a duplicate C2 raises in
            # its own branch below
            raise ValueError(
                f"jpeg {origin}: second frame header 0xFF{marker:02X} in a "
                "progressive stream"
            )
        if marker == 0xDB:
            _parse_dqt(seg, qtables, origin)
        elif marker == 0xC4:
            _parse_dht(seg, dc_tables, ac_tables, origin)
        elif marker == 0xDD:
            if len(seg) < 2:
                raise ValueError(f"jpeg {origin}: DRI segment body truncated")
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xC2:  # SOF2
            if frame is not None:
                raise ValueError(f"jpeg {origin}: duplicate frame header")
            frame = _parse_sof_body(seg, origin, marker)
            height, width, comps, prec = frame
            if len(comps) == 1:
                cid, _, _, tq = comps[0]
                comps = [(cid, 1, 1, tq)]
                frame = (height, width, comps, prec)
            hmax = max(h for _, h, _, _ in comps)
            vmax = max(v for _, _, v, _ in comps)
            mcus_x = -(-width // (8 * hmax))
            mcus_y = -(-height // (8 * vmax))
            for ci, (cid, h, v, tq) in enumerate(comps):
                if cid in cid_index:
                    raise ValueError(
                        f"jpeg {origin}: duplicate component id {cid}"
                    )
                cid_index[cid] = ci
                bw_pad, bh_pad = mcus_x * h, mcus_y * v
                # non-interleaved block raster covers the component's own
                # sample grid (T.81 A.2.2), NOT the MCU-padded grid
                cw = -(-width * h // hmax)  # ceil(width * h / hmax)
                ch = -(-height * v // vmax)
                bw_ni, bh_ni = -(-cw // 8), -(-ch // 8)
                metas.append((h, v, bw_pad, bh_pad, bw_ni, bh_ni, tq))
                coefs.append(array("i", (0,)) * (bw_pad * bh_pad * 64))
                dc_al.append(None)
                ac_al.append([None] * 64)
        elif marker == 0xDA:  # SOS: one scan
            if frame is None:
                raise ValueError(f"jpeg {origin}: SOS before SOF")
            pos = _decode_progressive_scan(
                data, pos, seg, origin, frame, metas, coefs, dc_al, ac_al,
                cid_index, dc_tables, ac_tables, restart_interval,
                mcus_x, mcus_y,
            )
        # APPn / COM / others with a body: skipped
    if frame is None:
        raise ValueError(f"jpeg {origin}: EOI before any frame header")
    height, width, comps, prec = frame
    level, maxv = 1 << (prec - 1), (1 << prec) - 1
    for ci, (cid, h, v, tq) in enumerate(comps):
        if dc_al[ci] != 0:
            raise ValueError(
                f"jpeg {origin}: progressive scan script incomplete — "
                f"component {cid} DC "
                + ("never scanned" if dc_al[ci] is None
                   else f"stops at bit plane {dc_al[ci]}")
            )
        bad = [k for k in range(1, 64) if ac_al[ci][k] != 0]
        if bad:
            raise ValueError(
                f"jpeg {origin}: progressive scan script incomplete — "
                f"component {cid} AC coefficients {bad[0]}..{bad[-1]} "
                "missing or above bit plane 0"
            )
        if tq not in qtables:
            raise ValueError(
                f"jpeg {origin}: component quant table {tq} undefined"
            )
    planes = []
    geom = []
    for ci, (cid, h, v, tq) in enumerate(comps):
        _, _, bw_pad, bh_pad, _, _, _ = metas[ci]
        qt = qtables[tq]
        pw, ph = bw_pad * 8, bh_pad * 8
        plane = bytearray(pw * ph)
        blocks = coefs[ci]
        for byi in range(bh_pad):
            for bxi in range(bw_pad):
                off = (byi * bw_pad + bxi) * 64
                nat = [0] * 64
                for k in range(64):
                    c = blocks[off + k]
                    if c:
                        nat[ZIGZAG[k]] = c * qt[k]
                px = _idct_block(nat, level, maxv)
                ox, oy = bxi * 8, byi * 8
                for yy in range(8):
                    row = (oy + yy) * pw + ox
                    plane[row : row + 8] = _render_row(px, yy, prec)
        planes.append(plane)
        geom.append((h, v, pw))
    return _assemble_image(width, height, geom, planes, hmax, vmax)


def _parse_sof_body(seg: bytes, origin: str, marker: int = 0xC0) -> tuple:
    """SOF segment body → (height, width, [(cid, h, v, tq)], precision)
    with the same constraint set the baseline path enforces. 12-bit
    sample precision is legal only for extended sequential (SOF1) and
    progressive (SOF2) frames — T.81 table B.2 fixes baseline SOF0 at
    8 bits, so a 12-bit SOF0 is structurally corrupt, not a variant."""
    if len(seg) < 6:
        raise ValueError(
            f"jpeg {origin}: SOF segment body truncated ({len(seg)} bytes)"
        )
    prec, height, width, nf = struct.unpack(">BHHB", seg[:6])
    if prec == 12 and marker == 0xC0:
        raise ValueError(
            f"jpeg {origin}: 12-bit precision is invalid in a baseline "
            "SOF0 frame (T.81 table B.2 — extended sequential SOF1 or "
            "progressive SOF2 only)"
        )
    if prec not in (8, 12):
        raise ValueError(
            f"jpeg {origin}: {prec}-bit precision unsupported "
            "(8- and 12-bit only)"
        )
    if height == 0 or width == 0:
        raise ValueError(
            f"jpeg {origin}: zero frame dimension {width}x{height} "
            "(DNL-deferred height unsupported)"
        )
    if nf == 4:
        raise ValueError(f"jpeg {origin}: 4-component (CMYK/YCCK) unsupported")
    if nf not in (1, 3):
        raise ValueError(
            f"jpeg {origin}: {nf}-component frame unsupported "
            "(grayscale or YCbCr)"
        )
    if len(seg) < 6 + nf * 3:
        raise ValueError(f"jpeg {origin}: SOF component list truncated")
    comps = []
    for c in range(nf):
        cid, hv, tq = seg[6 + c * 3 : 9 + c * 3]
        h, v = hv >> 4, hv & 0x0F
        if not (1 <= h <= 4 and 1 <= v <= 4):
            raise ValueError(
                f"jpeg {origin}: sampling factors {h}x{v} outside the "
                "spec's 1..4"
            )
        comps.append((cid, h, v, tq))
    # bomb guard (the gif.py/png.py rule: header-declared geometry is
    # attacker data): the MCU-padded plane is what both decoders allocate
    # — a 20-byte SOF must not be able to demand a multi-GB buffer
    hmax = max(h for _, h, _, _ in comps)
    vmax = max(v for _, _, v, _ in comps)
    pw = -(-width // (8 * hmax)) * 8 * hmax
    ph = -(-height // (8 * vmax)) * 8 * vmax
    if pw * ph > _MAX_PIXELS:
        raise ValueError(
            f"jpeg {origin}: declared geometry {width}x{height} pads to "
            f"{pw}x{ph}, past the {_MAX_PIXELS}-pixel guard"
        )
    return height, width, comps, prec


def _decode_progressive_scan(
    data: bytes, pos: int, seg: bytes, origin: str, frame: tuple,
    metas: list, coefs: list, dc_al: list, ac_al: list, cid_index: dict,
    dc_tables: dict, ac_tables: dict, restart_interval: int,
    mcus_x: int, mcus_y: int,
) -> int:
    """Decode ONE progressive scan's entropy data; returns the stream
    position after it (at the next marker). Validates the scan header
    against the successive-approximation state and updates it."""
    if not seg:
        raise ValueError(f"jpeg {origin}: SOS segment body truncated")
    ns = seg[0]
    if not 1 <= ns <= 4:
        raise ValueError(
            f"jpeg {origin}: scan component count {ns} outside the "
            "spec's 1..4"
        )
    if len(seg) < 1 + ns * 2 + 3:
        raise ValueError(f"jpeg {origin}: SOS header truncated")
    scan_comps = []  # (ci, td, ta)
    for i in range(ns):
        cs, tdta = seg[1 + i * 2 : 3 + i * 2]
        if cs not in cid_index:
            raise ValueError(
                f"jpeg {origin}: scan names component id {cs} the frame "
                "does not have"
            )
        scan_comps.append((cid_index[cs], tdta >> 4, tdta & 0x0F))
    ss, se, ahal = seg[1 + ns * 2 : 4 + ns * 2]
    ah, al = ahal >> 4, ahal & 0x0F
    if al > 13 or (ah and ah > 13):
        raise ValueError(
            f"jpeg {origin}: successive approximation {ah}/{al} outside "
            "the spec's 0..13"
        )
    if ah and al != ah - 1:
        raise ValueError(
            f"jpeg {origin}: refinement must lower one bit plane "
            f"(Ah={ah}, Al={al})"
        )
    reader = _BitReader(data, pos, origin)
    if ss == 0:
        if se != 0:
            raise ValueError(
                f"jpeg {origin}: progressive DC scan must have Se=0 "
                f"(Ss=0, Se={se})"
            )
        for ci, td, _ta in scan_comps:
            if ah == 0:
                if dc_al[ci] is not None:
                    raise ValueError(
                        f"jpeg {origin}: duplicate first DC scan for "
                        f"component index {ci}"
                    )
                if td not in dc_tables:
                    raise ValueError(
                        f"jpeg {origin}: huffman table dc{td} undefined"
                    )
            else:
                if dc_al[ci] != ah:
                    raise ValueError(
                        f"jpeg {origin}: DC refinement at Ah={ah} but "
                        f"component index {ci} is at bit plane {dc_al[ci]}"
                    )
            dc_al[ci] = al
        _scan_dc(
            reader, origin, scan_comps, metas, coefs, dc_tables, ah, al,
            restart_interval, mcus_x, mcus_y, frame[3],
        )
    else:
        if ns != 1:
            raise ValueError(
                f"jpeg {origin}: progressive AC scan must be "
                f"single-component (Ss={ss}, {ns} components)"
            )
        if not (ss <= se <= 63):
            raise ValueError(
                f"jpeg {origin}: spectral band {ss}..{se} invalid"
            )
        ci, _td, ta = scan_comps[0]
        if dc_al[ci] is None:
            raise ValueError(
                f"jpeg {origin}: AC scan before the component's first DC "
                "scan"
            )
        if ta not in ac_tables:
            raise ValueError(f"jpeg {origin}: huffman table ac{ta} undefined")
        band_state = {ac_al[ci][k] for k in range(ss, se + 1)}
        if ah == 0:
            if band_state != {None}:
                raise ValueError(
                    f"jpeg {origin}: first AC scan over band {ss}..{se} "
                    "overlaps an already-scanned band"
                )
        elif band_state != {ah}:
            raise ValueError(
                f"jpeg {origin}: AC refinement at Ah={ah} over band "
                f"{ss}..{se} whose state is {sorted(band_state, key=str)}"
            )
        for k in range(ss, se + 1):
            ac_al[ci][k] = al
        _scan_ac(
            reader, origin, ci, metas[ci], coefs[ci], ac_tables[ta],
            ss, se, ah, al, restart_interval,
        )
    return reader.pos


def _scan_dc(
    reader, origin: str, scan_comps: list, metas: list, coefs: list,
    dc_tables: dict, ah: int, al: int, restart_interval: int,
    mcus_x: int, mcus_y: int, prec: int = 8,
) -> None:
    """DC scan body: interleaved (MCU walk over every scan component) or
    single-component (block raster). First pass decodes predictor
    diffs shifted by Al; refinement appends one raw bit per block."""
    interleaved = len(scan_comps) > 1
    preds = {ci: 0 for ci, _, _ in scan_comps}
    rst_n = 0
    since = 0
    dc_cat_max = prec + 3
    pred_hi = 1 << dc_cat_max  # ±2048 at 8-bit, ±32768 at 12-bit

    def one_block(ci: int, blocks, off: int, td: int) -> None:
        if ah == 0:
            t = reader.decode(dc_tables[td], "dc")
            if t > dc_cat_max:
                raise ValueError(
                    f"jpeg {origin}: DC magnitude category {t} exceeds "
                    f"the {prec}-bit limit {dc_cat_max}"
                )
            preds[ci] += _extend(reader.receive(t), t)
            # sample precision bounds the quantized DC coefficient to
            # P+3 bits (T.81 table F.1) — a predictor walking past that
            # is corrupt entropy data, and int32 storage requires the
            # loud refusal here rather than an OverflowError at
            # assignment
            if not -pred_hi <= preds[ci] < pred_hi:
                raise ValueError(
                    f"jpeg {origin}: DC predictor {preds[ci]} outside the "
                    f"{prec}-bit precision range — corrupt entropy data"
                )
            blocks[off] = preds[ci] << al
        elif reader.bit():
            blocks[off] |= 1 << al

    if interleaved:
        total = mcus_x * mcus_y
        for m in range(total):
            if restart_interval and since == restart_interval:
                reader.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) % 8
                preds = {ci: 0 for ci in preds}
                since = 0
            my, mx = divmod(m, mcus_x)
            for ci, td, _ta in scan_comps:
                h, v, bw_pad = metas[ci][0], metas[ci][1], metas[ci][2]
                blocks = coefs[ci]
                for by in range(v):
                    for bx in range(h):
                        off = ((my * v + by) * bw_pad + (mx * h + bx)) * 64
                        one_block(ci, blocks, off, td)
            since += 1
    else:
        ci, td, _ta = scan_comps[0]
        _h, _v, bw_pad, _bh_pad, bw_ni, bh_ni, _tq = metas[ci]
        blocks = coefs[ci]
        for m in range(bw_ni * bh_ni):
            if restart_interval and since == restart_interval:
                reader.align_and_expect_rst(rst_n)
                rst_n = (rst_n + 1) % 8
                preds = {ci: 0}
                since = 0
            byi, bxi = divmod(m, bw_ni)
            one_block(ci, blocks, (byi * bw_pad + bxi) * 64, td)
            since += 1


def _scan_ac(
    reader, origin: str, ci: int, meta: tuple, blocks: list, act,
    ss: int, se: int, ah: int, al: int, restart_interval: int,
) -> None:
    """AC band scan body (always non-interleaved: MCU = one block).
    First pass is the G.1.2.2 run/size loop with EOBn runs; refinement
    is G.1.2.3 — new ±1<<Al values threaded through correction bits for
    every nonzero-history coefficient passed over."""
    _h, _v, bw_pad, _bh_pad, bw_ni, bh_ni, _tq = meta
    eobrun = 0
    rst_n = 0
    since = 0
    for m in range(bw_ni * bh_ni):
        if restart_interval and since == restart_interval:
            if eobrun:
                raise ValueError(
                    f"jpeg {origin}: EOB run crosses a restart boundary — "
                    "corrupt entropy data"
                )
            reader.align_and_expect_rst(rst_n)
            rst_n = (rst_n + 1) % 8
            since = 0
        byi, bxi = divmod(m, bw_ni)
        base = (byi * bw_pad + bxi) * 64
        if ah == 0:
            if eobrun:
                eobrun -= 1
            else:
                k = ss
                while k <= se:
                    rs = reader.decode(act, "ac")
                    r, s = rs >> 4, rs & 0x0F
                    if s == 0:
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1 + reader.receive(r)
                        break
                    k += r
                    if k > se:
                        raise ValueError(
                            f"jpeg {origin}: AC run overflows the band — "
                            "corrupt entropy data"
                        )
                    blocks[base + k] = _extend(reader.receive(s), s) << al
                    k += 1
        else:
            eobrun = _refine_ac_block(
                reader, origin, blocks, base, act, ss, se, al, eobrun
            )
        since += 1
    if eobrun:
        raise ValueError(
            f"jpeg {origin}: EOB run of {eobrun} outlives the scan — "
            "corrupt entropy data"
        )


def _refine_ac_block(
    reader, origin: str, coef, base: int, act, ss: int, se: int, al: int,
    eobrun: int,
) -> int:
    """One block of an AC refinement scan (G.1.2.3). Every nonzero-history
    coefficient passed over reads a correction bit; r counts ZERO-history
    positions only; a new coefficient lands as ±1<<Al in the (r+1)th
    zero-history slot. An EOB run still corrects the remainder of the
    CURRENT block before skipping whole blocks. ``coef`` is the
    component's flat coefficient array; ``base`` is this block's offset."""
    p1 = 1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = reader.decode(act, "ac")
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = (1 << r) + reader.receive(r)
                    break
                # ZRL: pass over 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError(
                        f"jpeg {origin}: refinement coefficient size {s} "
                        "!= 1 — corrupt entropy data"
                    )
                val = p1 if reader.bit() else -p1
            while k <= se:
                c = coef[base + k]
                if c != 0:
                    if reader.bit() and (c & p1) == 0:
                        coef[base + k] = c + (p1 if c > 0 else -p1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError(
                        f"jpeg {origin}: refinement run overflows the band "
                        "— corrupt entropy data"
                    )
                coef[base + k] = val
            k += 1
    if eobrun:
        while k <= se:
            c = coef[base + k]
            if c != 0:
                if reader.bit() and (c & p1) == 0:
                    coef[base + k] = c + (p1 if c > 0 else -p1)
            k += 1
        eobrun -= 1
    return eobrun


# ------------------------------------------------------------------ writer

# Annex K example quantization tables (natural order) — the spec's own
# reference tables, scaled by the public quality formula at encode time
_QT_LUMA = (
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
)
_QT_CHROMA = (
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
)

# RGB -> YCbCr, round(c * 65536); each row sums to 65536 / 0 / 0 exactly
_Y_R, _Y_G, _Y_B = 19595, 38470, 7471
_CB_R, _CB_G2, _CB_B2 = 11059, 21709, 32768
_CR_R2, _CR_G2, _CR_B2 = 32768, 27439, 5329


def _scaled_qtable(base: tuple, quality: int) -> list:
    """The public libjpeg-convention quality scaling: 1..100, 50 = the
    Annex K table as-is, 100 = all-ones (near-lossless)."""
    if not 1 <= quality <= 100:
        raise ValueError(f"jpeg: quality {quality} outside 1..100")
    scale = 5000 // quality if quality < 50 else 200 - 2 * quality
    return [min(255, max(1, (v * scale + 50) // 100)) for v in base]


def _fdct_quant(block: list, qt: list) -> list:
    """Forward DCT (same fixed-point table as the inverse, exact
    accumulation, one rounding) + quantization (round half away from
    zero), output in NATURAL order (index r*8+c, r = vertical frequency
    — the same layout the decoder consumes). ``block`` is 64
    level-shifted ints."""
    # pass 1: tmp[c*8+y] = sum_x block[y*8+x] * A[c][x]
    tmp = [0] * 64
    for c in range(8):
        ac = _A[c]
        for y in range(8):
            s = 0
            row = y * 8
            for x in range(8):
                s += block[row + x] * ac[x]
            tmp[c * 8 + y] = s
    out = [0] * 64
    for r in range(8):
        ar = _A[r]
        for c in range(8):
            s = 0
            for y in range(8):
                s += tmp[c * 8 + y] * ar[y]
            # s = 2^28 * S(r,c); quantize by q with one half-away
            # rounding. Quantize via MAGNITUDE: Python's // floors (not
            # truncates), so (2*s - q) // (2*q) on negative s would give
            # floor(s/q - 0.5) — one quant step too large in magnitude
            # for every negative coefficient (s/q = -1.0 → -2 instead
            # of -1). Sign-split keeps half-away-from-zero exact.
            q = qt[r * 8 + c] << 28
            mag = (2 * abs(s) + q) // (2 * q)
            out[r * 8 + c] = mag if s >= 0 else -mag
    return out


def _build_huffman(freq: dict) -> tuple:
    """Annex K.2 optimal Huffman table: (BITS[16], HUFFVAL) from symbol
    counts. Symbol 256 is the spec's reserved entry so no real symbol
    gets the all-ones code; lengths beyond 16 fold down per Figure K.3."""
    f = [0] * 257
    for s, c in freq.items():
        f[s] = c
    f[256] = 1
    codesize = [0] * 257
    others = [-1] * 257
    while True:
        cands = sorted(
            ((f[i], i) for i in range(257) if f[i] > 0),
            key=lambda t: (t[0], -t[1]),
        )
        if len(cands) <= 1:
            break
        v1, v2 = cands[0][1], cands[1][1]
        f[v1] += f[v2]
        f[v2] = 0
        while True:
            codesize[v1] += 1
            if others[v1] == -1:
                break
            v1 = others[v1]
        others[v1] = v2
        while True:
            codesize[v2] += 1
            if others[v2] == -1:
                break
            v2 = others[v2]
    bits = [0] * 33
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    i = 32
    while i > 16:
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
        i -= 1
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # retire the reserved symbol's code slot
    huffval = sorted(
        (s for s in range(256) if codesize[s]),
        key=lambda s: (codesize[s], s),
    )
    return bits[1:17], bytes(huffval)


def _encode_codes(bits: list, huffval: bytes) -> dict:
    """Canonical (code, length) per symbol — the SAME derivation the
    decoder's _HuffTable walks, so the two sides agree by construction."""
    codes = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[huffval[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


class _BitWriter:
    """MSB-first bit emitter with 0xFF00 stuffing; 1-padded to the byte
    boundary on close (the spec's convention)."""

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.out.append(b)
            if b == 0xFF:
                self.out.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def close(self) -> bytes:
        if self.nbits:
            self.put((1 << (8 - self.nbits)) - 1, 8 - self.nbits)
        return bytes(self.out)


def _block_symbols(coef_q: list):
    """(dc_category, dc_bits) + [(ac_symbol, bits, nbits)...] for one
    quantized block (natural order, DC already differenced)."""
    diff = coef_q[0]
    t = abs(diff).bit_length()
    dc_bits = diff if diff >= 0 else diff + (1 << t) - 1
    acs = []
    run = 0
    last_nz = 0
    zz = [coef_q[ZIGZAG[k]] for k in range(64)]
    for k in range(1, 64):
        if zz[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = zz[k]
        if v == 0:
            run += 1
            continue
        while run > 15:
            acs.append((0xF0, 0, 0))  # ZRL
            run -= 16
        s = abs(v).bit_length()
        bitsv = v if v >= 0 else v + (1 << s) - 1
        acs.append(((run << 4) | s, bitsv, s))
        run = 0
    if last_nz < 63:
        acs.append((0x00, 0, 0))  # EOB
    return t, dc_bits, acs


def _prepare_blocks(img: PngImage, quality: int):
    """Shared encoder front half: color convert, edge-replicate partial
    blocks, FDCT + quantize. Returns (w, h, ncomp, qts, comp_coefs) with
    comp_coefs[ci][bi] = the 64 quantized coefficients in NATURAL order
    (the _fdct_quant layout; scan emitters zigzag on access), DC kept RAW
    (each coding process differences it per its own scan structure)."""
    if img.bit_depth != 8 or img.color_type not in (0, 2):
        raise ValueError(
            f"jpeg: encode needs 8-bit gray or rgb input, got depth "
            f"{img.bit_depth} color type {img.color_type}"
        )
    w, h = img.width, img.height
    ncomp = 1 if img.color_type == 0 else 3
    if ncomp == 1:
        planes = [img.raw]
    else:
        y_p = bytearray(w * h)
        cb_p = bytearray(w * h)
        cr_p = bytearray(w * h)
        raw = img.raw
        for i in range(w * h):
            r, g, b = raw[3 * i], raw[3 * i + 1], raw[3 * i + 2]
            y_p[i] = (_Y_R * r + _Y_G * g + _Y_B * b + 32768) >> 16
            cb = 128 + ((-_CB_R * r - _CB_G2 * g + _CB_B2 * b + 32768) >> 16)
            cr = 128 + ((_CR_R2 * r - _CR_G2 * g - _CR_B2 * b + 32768) >> 16)
            cb_p[i] = 0 if cb < 0 else 255 if cb > 255 else cb
            cr_p[i] = 0 if cr < 0 else 255 if cr > 255 else cr
        planes = [bytes(y_p), bytes(cb_p), bytes(cr_p)]
    qts = [_scaled_qtable(_QT_LUMA, quality)]
    if ncomp == 3:
        qts.append(_scaled_qtable(_QT_CHROMA, quality))
    blocks_x = -(-w // 8)
    blocks_y = -(-h // 8)
    comp_coefs = []
    for ci in range(ncomp):
        plane = planes[ci]
        qt = qts[0 if ci == 0 else 1]
        blocks = []
        for by in range(blocks_y):
            for bx in range(blocks_x):
                blk = [0] * 64
                for yy in range(8):
                    sy = min(by * 8 + yy, h - 1)
                    row = sy * w
                    for xx in range(8):
                        sx = min(bx * 8 + xx, w - 1)
                        blk[yy * 8 + xx] = plane[row + sx] - 128
                blocks.append(_fdct_quant(blk, qt))
        comp_coefs.append(blocks)
    return w, h, ncomp, qts, comp_coefs


def encode_jpeg(img: PngImage, quality: int = 85) -> bytes:
    """Serialize an 8-bit gray or RGB :class:`PngImage` as a baseline
    sequential JPEG: 4:4:4 (no subsampling — deterministic and simple),
    Annex-K quality-scaled quantization, two-pass optimal Huffman tables
    (Annex K.2), edge-replicated partial blocks. Deterministic — same
    pixels in, same bytes out — and every output parses back through
    :func:`decode_jpeg`."""
    w, h, ncomp, qts, comp_coefs = _prepare_blocks(img, quality)
    blocks_x = -(-w // 8)
    blocks_y = -(-h // 8)
    # difference DC per component, collect run/size symbols
    comp_blocks = []  # per component: list of (t, dc_bits, acs)
    for ci in range(ncomp):
        pred = 0
        blocks = []
        for cq in comp_coefs[ci]:
            cq = list(cq)
            dc = cq[0]
            cq[0] = dc - pred
            pred = dc
            blocks.append(_block_symbols(cq))
        comp_blocks.append(blocks)
    dc_freq = [{}, {}]
    ac_freq = [{}, {}]
    for ci in range(ncomp):
        cls = 0 if ci == 0 else 1
        for t, _, acs in comp_blocks[ci]:
            dc_freq[cls][t] = dc_freq[cls].get(t, 0) + 1
            for sym, _, _ in acs:
                ac_freq[cls][sym] = ac_freq[cls].get(sym, 0) + 1
    nclasses = 1 if ncomp == 1 else 2
    dc_spec = [_build_huffman(dc_freq[c]) for c in range(nclasses)]
    ac_spec = [_build_huffman(ac_freq[c]) for c in range(nclasses)]
    dc_codes = [_encode_codes(*s) for s in dc_spec]
    ac_codes = [_encode_codes(*s) for s in ac_spec]
    # pass 2: the byte stream
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body)

    for tq, qt in enumerate(qts):
        zz = bytes(qt[ZIGZAG[k]] for k in range(64))
        seg(0xDB, bytes([tq]) + zz)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    seg(0xC0, sof)
    for cls in range(nclasses):
        for tc, (bits, huffval) in ((0, dc_spec[cls]), (1, ac_spec[cls])):
            seg(0xC4, bytes([(tc << 4) | cls]) + bytes(bits) + huffval)
    sos = bytes([ncomp])
    for ci in range(ncomp):
        cls = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (cls << 4) | cls])
    sos += bytes([0, 63, 0])
    seg(0xDA, sos)
    bw = _BitWriter()
    for bi in range(blocks_x * blocks_y):
        for ci in range(ncomp):
            cls = 0 if ci == 0 else 1
            t, dc_bits, acs = comp_blocks[ci][bi]
            code, length = dc_codes[cls][t]
            bw.put(code, length)
            if t:
                bw.put(dc_bits, t)
            for sym, bitsv, s in acs:
                code, length = ac_codes[cls][sym]
                bw.put(code, length)
                if s:
                    bw.put(bitsv, s)
    out.extend(bw.close())
    out.extend(b"\xff\xd9")
    return bytes(out)


def encode_jpeg_progressive(img: PngImage, quality: int = 85) -> bytes:
    """Serialize as a PROGRESSIVE (SOF2) JPEG with a spectral-selection
    scan script: one interleaved DC scan, then one full-band (1..63) AC
    scan per component — the simplest spec-valid progressive layout (no
    successive approximation; Ah=Al=0 everywhere). Same 4:4:4 front half
    and quantization as :func:`encode_jpeg`, so
    ``decode_jpeg(encode_jpeg_progressive(img, q))`` reconstructs pixels
    IDENTICAL to the baseline round trip at the same quality — the two
    streams carry the same coefficients through different entropy
    structures. AC scans batch trailing-zero blocks into EOB runs
    (annex G's EOBn with extension bits); every scan gets its own
    two-pass optimal Huffman table (Annex K.2), emitted in a DHT right
    before its SOS."""
    w, h, ncomp, qts, comp_coefs = _prepare_blocks(img, quality)
    out = bytearray(b"\xff\xd8")

    def seg(marker: int, body: bytes) -> None:
        out.extend(
            b"\xff" + bytes([marker]) + struct.pack(">H", len(body) + 2) + body
        )

    for tq, qt in enumerate(qts):
        seg(0xDB, bytes([tq]) + bytes(qt[ZIGZAG[k]] for k in range(64)))
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for ci in range(ncomp):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    seg(0xC2, sof)

    # ---- DC scan: interleaved over every component, Ss=Se=Ah=Al=0
    dc_syms = []  # (cls, t, bits) in emission order
    preds = [0] * ncomp
    nblocks = len(comp_coefs[0])
    for bi in range(nblocks):
        for ci in range(ncomp):
            dc = comp_coefs[ci][bi][0]
            diff = dc - preds[ci]
            preds[ci] = dc
            t = abs(diff).bit_length()
            dc_syms.append(
                (0 if ci == 0 else 1, t,
                 diff if diff >= 0 else diff + (1 << t) - 1)
            )
    nclasses = 1 if ncomp == 1 else 2
    dc_freq = [{} for _ in range(nclasses)]
    for cls, t, _ in dc_syms:
        dc_freq[cls][t] = dc_freq[cls].get(t, 0) + 1
    dc_spec = [_build_huffman(f) for f in dc_freq]
    dc_codes = [_encode_codes(*s) for s in dc_spec]
    for cls in range(nclasses):
        seg(0xC4, bytes([cls]) + bytes(dc_spec[cls][0]) + dc_spec[cls][1])
    sos = bytes([ncomp])
    for ci in range(ncomp):
        cls = 0 if ci == 0 else 1
        sos += bytes([ci + 1, cls << 4])
    seg(0xDA, sos + bytes([0, 0, 0x00]))
    bw = _BitWriter()
    for cls, t, bits in dc_syms:
        code, length = dc_codes[cls][t]
        bw.put(code, length)
        if t:
            bw.put(bits, t)
    out.extend(bw.close())

    # ---- AC scans: one per component, Ss=1 Se=63, EOB-run batched
    for ci in range(ncomp):
        items = []  # (sym, extra_bits, n_extra) in emission order
        eobrun = 0

        def flush_eob():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                items.append((r << 4, eobrun - (1 << r), r))
                eobrun = 0

        for cq in comp_coefs[ci]:
            zz = [cq[ZIGZAG[k]] for k in range(1, 64)]
            last_nz = 0
            for k, v in enumerate(zz, start=1):
                if v:
                    last_nz = k
            if last_nz == 0:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
                continue
            flush_eob()
            run = 0
            for k in range(1, last_nz + 1):
                v = zz[k - 1]
                if v == 0:
                    run += 1
                    continue
                while run > 15:
                    items.append((0xF0, 0, 0))  # ZRL
                    run -= 16
                s = abs(v).bit_length()
                items.append(
                    ((run << 4) | s, v if v >= 0 else v + (1 << s) - 1, s)
                )
                run = 0
            if last_nz < 63:
                eobrun += 1
                if eobrun == 0x7FFF:
                    flush_eob()
        flush_eob()
        freq = {}
        for sym, _, _ in items:
            freq[sym] = freq.get(sym, 0) + 1
        spec = _build_huffman(freq or {0x00: 1})
        codes = _encode_codes(*spec)
        cls = 0 if ci == 0 else 1
        seg(0xC4, bytes([0x10 | cls]) + bytes(spec[0]) + spec[1])
        seg(0xDA, bytes([1, ci + 1, cls, 1, 63, 0x00]))
        bw = _BitWriter()
        for sym, bits, n in items:
            code, length = codes[sym]
            bw.put(code, length)
            if n:
                bw.put(bits, n)
        out.extend(bw.close())
    out.extend(b"\xff\xd9")
    return bytes(out)


def sniff_format(payload: bytes) -> str | None:
    """THE single image-magic dispatch list: 'png'/'jpeg'/'gif'/'bmp'/
    'tiff'/'webp', or None. ``decode_image`` and the registered
    multimodal routing (operators/multimodal.py, _decode_real) both
    consume this — one list, no mirror to drift.

    The two ASCII-expressible magics carry STRUCTURAL guards beyond the
    magic bytes, because UTF-8 prose can legitimately start with "BM" or
    "GIF89a" and a text payload must never sniff as an image: a real BMP's
    reserved field (bytes 6-9) is mandatory-zero per the format, and a
    real GIF has a block introducer (extension 0x21 / image 0x2C /
    trailer 0x3B) immediately after the 13-byte header + global color
    table. Zero false negatives — every payload ``decode_image`` can
    decode passes its guard. The documented cost: a BMP/GIF whose GUARD
    bytes are corrupt sniffs as None (unknown format) instead of
    surfacing a per-format corruption error. Imports are lazy:
    bmp→avi→jpeg would otherwise cycle at module load."""
    from .png import PNG_MAGIC

    if bytes(payload[: len(PNG_MAGIC)]) == PNG_MAGIC:
        return "png"
    if looks_like_jpeg(payload):
        return "jpeg"
    from .gif import GIF_MAGICS

    if bytes(payload[:6]) in GIF_MAGICS and len(payload) > 13:
        flags = payload[10]
        pos = 13 + ((3 << ((flags & 7) + 1)) if flags & 0x80 else 0)
        if pos < len(payload) and payload[pos] in (0x21, 0x2C, 0x3B):
            return "gif"
    from .bmp import BMP_MAGIC

    if (
        bytes(payload[:2]) == BMP_MAGIC
        and len(payload) >= 54
        and bytes(payload[6:10]) == b"\x00\x00\x00\x00"
    ):
        return "bmp"
    from .tiff import looks_like_tiff

    if looks_like_tiff(payload):
        return "tiff"
    if bytes(payload[:4]) == b"RIFF" and bytes(payload[8:12]) == b"WEBP":
        # structural guard (same rule as BM/GIF8): "RIFF"/"WEBP" are both
        # ASCII-expressible, so require the binary RIFF size to equal the
        # payload exactly — every valid WebP satisfies it (webp_meta
        # enforces the same equality), prose never will
        if len(payload) >= 12 and int.from_bytes(
            bytes(payload[4:8]), "little"
        ) == len(payload) - 8:
            return "webp"
    return None


def decode_image(payload: bytes, origin: str = "<bytes>") -> PngImage:
    """Magic-dispatched real decode: PNG, baseline JPEG, GIF (first
    composed frame), 24-bit BMP, or uncompressed-baseline TIFF →
    PngImage, routed by :func:`sniff_format`. WebP is recognized and
    refused by name; any other magic is refused with the full
    supported-format list. THE universal decode entry: the registered
    multimodal path (operators/multimodal.py, decode_image_real /
    resize_image_real via _decode_real) and the demo/census tooling all
    route through here."""
    fmt = sniff_format(payload)
    if fmt == "png":
        from .png import decode_png

        return decode_png(payload, origin=origin)
    if fmt == "jpeg":
        return decode_jpeg(payload, origin=origin)
    if fmt == "gif":
        from .gif import decode_gif

        return decode_gif(payload, origin=origin)
    if fmt == "bmp":
        from .bmp import decode_bmp

        return decode_bmp(payload, origin=origin)
    if fmt == "tiff":
        from .tiff import decode_tiff

        return decode_tiff(payload, origin=origin)
    if fmt == "webp":
        from .webpmeta import decode_webp_pixels

        # lossless (VP8L) decodes for real (operators/vp8l.py, r12);
        # lossy VP8 and animations raise their named refusals from here
        return decode_webp_pixels(payload, origin=origin)
    raise ValueError(
        f"image {origin}: payload magic {payload[:4]!r} is none of "
        "PNG/JPEG/GIF/BMP/TIFF/WebP — no real codec for this format "
        "in-container"
    )
