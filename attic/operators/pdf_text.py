"""PDF text extraction from the public PDF specification, stdlib-only.

PDFs are one of the largest text sources a training-data pipeline meets,
and the format is fully published (ISO 32000 / the Adobe PDF Reference):
a self-describing object graph behind a cross-reference index, content
streams of page-description operators, and declared stream filters. The
honest from-spec subset here:

* **container**: header version; classic ``xref`` tables AND PDF-1.5
  cross-reference streams (/Type/XRef with /W field widths + /Index
  subsections); /Prev incremental-update chains (loop-guarded); hybrid
  /XRefStm bridges; compressed objects in object streams (/Type/ObjStm,
  /N + /First header pairs);
* **object syntax**: dicts, arrays, names with #xx escapes, literal
  strings with all escapes incl. octal and line continuations, hex
  strings, numbers, booleans, null, indirect references, streams with
  indirect /Length;
* **filters**: FlateDecode (stdlib zlib, bounded inflate) with the PNG
  row predictors (/Predictor ≥ 10 — Sub/Up/Average/Paeth over /Columns)
  and TIFF horizontal differencing (/Predictor 2, 8-bit, r16),
  LZWDecode (THE shared MSB-first/EarlyChange loop in ``tiff.py``,
  /EarlyChange 0 honored), ASCIIHexDecode, ASCII85Decode (stdlib),
  RunLengthDecode; DCTDecode and the crypt filters refuse by name;
* **text**: page tree walk with inherited /Resources, BT/ET text blocks,
  Tj / ' / " / TJ show operators (TJ kerning ≤ −180/1000 em renders as a
  space), Td/TD/T*/Tm line breaks, inline images (BI…EI) skipped;
  per-font byte→text decoding via /ToUnicode CMaps (bfchar + bfrange,
  1- and 2-byte codes — the exact mapping modern generators emit),
  /WinAnsiEncoding and /MacRomanEncoding via the stdlib cp1252 /
  mac-roman codecs, unencoded simple fonts as ASCII; /Differences
  encodings (r13 — every pdfTeX font carries one) resolve glyph names
  through the AGL core subset in ``attic/operators/agl.py``, whose every
  entry is UCD-verified at import, with names outside it refusing BY
  NAME; CID-keyed (Type0) fonts WITHOUT a ToUnicode map refuse by name
  (no glyph-list oracle in-container);
* **encryption** (r16): the standard security handler with an EMPTY
  user password — the dominant "owner-locked" case — decrypts strings
  and streams transparently across every published revision: RC4
  (V 1/2, R 2/3 — ISO 32000-1 §7.6.3 MD5 key derivation, R3 50-round
  strengthening, per-object keys, /U verification), crypt filters
  (V4/R4 — /V2 RC4-128 and /AESV2 AES-128-CBC with the 'sAlT'
  extension and the EncryptMetadata marker), and AES-256 (V5, R5 and
  R6 — the ISO 32000-2 Algorithm 2.A/2.B SHA-2 KDF, /UE file-key
  unwrap, /Perms integrity check) over the from-spec FIPS-197 cipher
  in ``attic/operators/aes.py`` (computed S-box, known-answer-vector
  pinned). NON-empty user passwords, split /StmF-/StrF filters, and
  unknown /CFM methods refuse BY NAME (no password oracle here).

Fail-loud discipline: offsets, lengths, and counts are attacker data —
xref entries outside the file, looping /Prev chains, stream /Length
overruns, and filter bombs (every inflate is bounded) name their origin.

``pdf_meta`` reports (version, n_pages, n_objects) without touching
content; ``pdf_to_text`` extracts the document text (pages joined with
blank lines); ``pdf_text_frame`` is the Spark mapInPandas fan-out, one
typed row per payload. The census classifies ``%PDF`` payloads as
family="document" with n_pages.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), the PDF sibling of ``html_text.py``/``markdown_text.py``.
"""

from __future__ import annotations

import re
import zlib

PDF_MAGIC = b"%PDF-"

_MAX_INFLATE = 1 << 26  # 64 MiB per stream: the bounded-inflate rule
_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


def looks_like_pdf(payload: bytes) -> bool:
    return payload[: len(PDF_MAGIC)] == PDF_MAGIC


class _Ref:
    __slots__ = ("num", "gen")

    def __init__(self, num: int, gen: int):
        self.num = num
        self.gen = gen

    def __repr__(self):
        return f"{self.num} {self.gen} R"


class _Name(str):
    """PDF name object — a str subclass so dict keys read naturally."""


class _Stream:
    __slots__ = ("d", "raw")

    def __init__(self, d: dict, raw: bytes):
        self.d = d
        self.raw = raw


class _Lexer:
    """Object-syntax tokenizer over the raw bytes."""

    def __init__(self, data: bytes, pos: int, origin: str):
        self.data = data
        self.pos = pos
        self.origin = origin

    def _err(self, msg: str) -> ValueError:
        return ValueError(f"pdf {self.origin}: {msg} at byte {self.pos}")

    def skip_ws(self) -> None:
        d = self.data
        n = len(d)
        while self.pos < n:
            c = d[self.pos]
            if c in _WS:
                self.pos += 1
            elif c == 0x25:  # % comment to end of line
                while self.pos < n and d[self.pos] not in b"\r\n":
                    self.pos += 1
            else:
                return

    def parse(self, depth: int = 0):
        if depth > 128:
            # crafted [[[[… nesting must be a ValueError (the census
            # fold), never a Python RecursionError
            raise self._err("object nesting deeper than 128")
        self.skip_ws()
        d = self.data
        if self.pos >= len(d):
            raise self._err("object expected, stream ended")
        c = d[self.pos]
        if c == 0x2F:  # /Name
            return self._name()
        if c == 0x28:  # (literal string)
            return self._literal_string()
        if c == 0x3C:  # << dict or <hex>
            if d[self.pos : self.pos + 2] == b"<<":
                return self._dict(depth)
            return self._hex_string()
        if c == 0x5B:  # [ array
            self.pos += 1
            out = []
            while True:
                self.skip_ws()
                if self.pos < len(d) and d[self.pos] == 0x5D:
                    self.pos += 1
                    return out
                out.append(self.parse(depth + 1))
        if c in b"+-.0123456789":
            return self._number_or_ref()
        word = self._bareword()
        if word == b"true":
            return True
        if word == b"false":
            return False
        if word == b"null":
            return None
        raise self._err(f"unexpected token {word[:16]!r}")

    def _bareword(self) -> bytes:
        d = self.data
        start = self.pos
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:
            raise self._err(f"unexpected delimiter {d[start:start + 1]!r}")
        return d[start : self.pos]

    def _name(self) -> _Name:
        self.pos += 1
        d = self.data
        out = bytearray()
        while self.pos < len(d) and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            c = d[self.pos]
            if c == 0x23 and self.pos + 2 < len(d):  # #xx escape
                try:
                    out.append(int(d[self.pos + 1 : self.pos + 3], 16))
                    self.pos += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            self.pos += 1
        return _Name(out.decode("latin-1"))

    def _literal_string(self) -> bytes:
        d = self.data
        self.pos += 1
        out = bytearray()
        depth = 1
        while True:
            if self.pos >= len(d):
                raise self._err("unterminated (string")
            c = d[self.pos]
            self.pos += 1
            if c == 0x5C:  # backslash escape
                if self.pos >= len(d):
                    raise self._err("escape at stream end")
                e = d[self.pos]
                self.pos += 1
                if e in b"nrtbf":
                    out.append({0x6E: 10, 0x72: 13, 0x74: 9, 0x62: 8,
                                0x66: 12}[e])
                elif e in b"()\\":
                    out.append(e)
                elif e in b"01234567":  # 1-3 octal digits
                    oct_digits = bytes([e])
                    for _ in range(2):
                        if self.pos < len(d) and d[self.pos] in b"01234567":
                            oct_digits += d[self.pos : self.pos + 1]
                            self.pos += 1
                    out.append(int(oct_digits, 8) & 0xFF)
                elif e in b"\r\n":  # line continuation
                    if e == 0x0D and self.pos < len(d) and d[self.pos] == 0x0A:
                        self.pos += 1
                # any other escaped char: the char itself, per spec
                else:
                    out.append(e)
            elif c == 0x28:
                depth += 1
                out.append(c)
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    return bytes(out)
                out.append(c)
            else:
                out.append(c)

    def _hex_string(self) -> bytes:
        d = self.data
        self.pos += 1
        digits = bytearray()
        while True:
            if self.pos >= len(d):
                raise self._err("unterminated <hex string")
            c = d[self.pos]
            self.pos += 1
            if c == 0x3E:
                break
            if c in _WS:
                continue
            digits.append(c)
        if len(digits) % 2:
            digits.append(0x30)  # odd count: pad with 0, per spec
        try:
            return bytes.fromhex(digits.decode("ascii"))
        except ValueError:
            raise self._err("non-hex digit in <hex string") from None

    def _number_or_ref(self):
        d = self.data
        word = self._bareword()
        try:
            if b"." in word:
                return float(word)
            num = int(word)
        except ValueError:
            raise self._err(f"bad number {word[:16]!r}") from None
        # 'num gen R' lookahead for an indirect reference
        save = self.pos
        self.skip_ws()
        if self.pos < len(d) and d[self.pos] in b"0123456789":
            try:
                gen_word = self._bareword()
                gen = int(gen_word)
                self.skip_ws()
                if d[self.pos : self.pos + 1] == b"R" and (
                    self.pos + 1 >= len(d)
                    or d[self.pos + 1] in _WS
                    or d[self.pos + 1] in _DELIM
                ):
                    self.pos += 1
                    return _Ref(num, gen)
            except ValueError:
                pass
        self.pos = save
        return num

    def _dict(self, depth: int = 0):
        d = self.data
        self.pos += 2
        out = {}
        while True:
            self.skip_ws()
            if d[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                break
            key = self.parse(depth + 1)
            if not isinstance(key, _Name):
                raise self._err(f"dict key {key!r} is not a name")
            out[str(key)] = self.parse(depth + 1)
        # stream?
        save = self.pos
        self.skip_ws()
        if d[self.pos : self.pos + 6] == b"stream":
            self.pos += 6
            if d[self.pos : self.pos + 2] == b"\r\n":
                self.pos += 2
            elif d[self.pos : self.pos + 1] == b"\n":
                self.pos += 1
            return _Stream(out, b""), self.pos  # raw filled by the caller
        self.pos = save
        return out


# --------------------------------------------------------------- filters


def _tiff_predictor(data: bytes, columns: int, colors: int, bpc: int,
                    origin: str) -> bytes:
    """TIFF /Predictor 2: per-row horizontal differencing, one running
    sum per color component (the tiff.py rule; 8-bit components only —
    sub-byte differencing is a TIFF-internal exotic no PDF writer
    emits, refused by name)."""
    if bpc != 8:
        raise NotImplementedError(
            f"pdf {origin}: TIFF predictor 2 with {bpc}-bit components "
            "not implemented (8-bit rows decode)"
        )
    stride = columns * colors
    if stride <= 0:
        raise ValueError(f"pdf {origin}: predictor columns {columns} invalid")
    if len(data) % stride:
        raise ValueError(
            f"pdf {origin}: predictor data of {len(data)} bytes is not "
            f"whole {stride}-byte rows"
        )
    out = bytearray(data)
    for row in range(0, len(out), stride):
        for i in range(row + colors, row + stride):
            out[i] = (out[i] + out[i - colors]) & 0xFF
    return bytes(out)


def _png_predictor(data: bytes, columns: int, colors: int, bpc: int,
                   origin: str) -> bytes:
    """PNG row predictors over filter-tagged rows (the xref-stream
    convention: /Predictor 10..15, one tag byte per row)."""
    bpp = max(1, (colors * bpc) // 8)
    stride = (columns * colors * bpc + 7) // 8
    if stride <= 0:
        raise ValueError(f"pdf {origin}: predictor columns {columns} invalid")
    out = bytearray()
    prev = bytes(stride)
    pos = 0
    while pos < len(data):
        if pos + 1 + stride > len(data):
            raise ValueError(
                f"pdf {origin}: predictor row truncated at byte {pos}"
            )
        ftype = data[pos]
        row = bytearray(data[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else b if pb <= pc else c
                row[i] = (row[i] + pred) & 0xFF
        elif ftype != 0:
            raise ValueError(
                f"pdf {origin}: predictor filter byte {ftype} invalid"
            )
        out += row
        prev = row
    return bytes(out)


def _runlength_decode(data: bytes, origin: str) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n == 128:  # EOD
            return bytes(out)
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError(
                    f"pdf {origin}: RunLength literal overruns the stream"
                )
            out += data[i : i + n + 1]
            i += n + 1
        else:
            if i >= len(data):
                raise ValueError(
                    f"pdf {origin}: RunLength repeat overruns the stream"
                )
            out += bytes([data[i]]) * (257 - n)
            i += 1
        if len(out) > _MAX_INFLATE:
            raise ValueError(
                f"pdf {origin}: RunLength inflates past the bound"
            )
    raise ValueError(f"pdf {origin}: RunLength stream ends without EOD")


def _apply_filters(raw: bytes, d: dict, resolve, origin: str) -> bytes:
    filters = resolve(d.get("Filter"))
    if filters is None:
        return raw
    if not isinstance(filters, list):
        filters = [filters]
    parms = resolve(d.get("DecodeParms", d.get("DP")))
    if not isinstance(parms, list):
        parms = [parms] * len(filters)
    elif len(parms) != len(filters):
        # zip() would silently drop trailing FILTERS, handing encoded
        # bytes downstream as decoded data
        raise ValueError(
            f"pdf {origin}: /DecodeParms has {len(parms)} entries for "
            f"{len(filters)} filters"
        )
    data = raw
    for f, pm in zip(filters, parms):
        pm = resolve(pm) or {}
        if not isinstance(pm, dict):
            raise ValueError(
                f"pdf {origin}: /DecodeParms entry {pm!r} is not a dict"
            )
        f = str(f)
        if f == "FlateDecode" or f == "Fl":
            dec = zlib.decompressobj()
            try:
                data = dec.decompress(data, _MAX_INFLATE)
            except zlib.error as e:
                raise ValueError(
                    f"pdf {origin}: FlateDecode stream is not zlib ({e})"
                ) from None
            if dec.unconsumed_tail:
                raise ValueError(
                    f"pdf {origin}: FlateDecode inflates past the bound"
                )
            if not dec.eof:
                # a truncated zlib stream decompresses to a silent
                # partial prefix — that's corruption, name it
                raise ValueError(
                    f"pdf {origin}: FlateDecode stream truncated "
                    "(no zlib end-of-stream)"
                )
        elif f == "LZWDecode" or f == "LZW":
            from hbase_observer_es_spark.operators.tiff import _lzw_decode_msb

            data = _lzw_decode_msb(
                data, None, origin, 0, kind="pdf",
                early_change=resolve(pm.get("EarlyChange", 1)) != 0,
                max_out=_MAX_INFLATE,
            )
        elif f == "ASCIIHexDecode" or f == "AHx":
            body = data.split(b">")[0]
            digits = bytes(c for c in body if c not in _WS)
            if len(digits) % 2:
                digits += b"0"
            data = bytes.fromhex(digits.decode("ascii", "strict"))
        elif f == "ASCII85Decode" or f == "A85":
            import base64

            body = data.split(b"~>")[0]
            data = base64.a85decode(bytes(c for c in body if c not in _WS))
        elif f == "RunLengthDecode" or f == "RL":
            data = _runlength_decode(data, origin)
        else:
            raise NotImplementedError(
                f"pdf {origin}: stream filter /{f} not implemented "
                "(Flate/LZW/ASCIIHex/ASCII85/RunLength decode for real)"
            )
        pred = resolve(pm.get("Predictor", 1))
        if pred and pred >= 10:
            data = _png_predictor(
                data,
                resolve(pm.get("Columns", 1)),
                resolve(pm.get("Colors", 1)),
                resolve(pm.get("BitsPerComponent", 8)),
                origin,
            )
        elif pred == 2:  # TIFF horizontal differencing (r16)
            data = _tiff_predictor(
                data,
                resolve(pm.get("Columns", 1)),
                resolve(pm.get("Colors", 1)),
                resolve(pm.get("BitsPerComponent", 8)),
                origin,
            )
        elif pred not in (None, 1):
            raise NotImplementedError(
                f"pdf {origin}: TIFF predictor {pred} in a PDF stream not "
                "implemented (PNG predictors 10..15 decode for real)"
            )
    return data


# ------------------------------------------------------------ encryption
#
# ISO 32000-1 §7.6.2-7.6.3 standard security handler, RC4 + empty user
# password (the "owner-locked" PDFs a crawl is full of). AES (V≥4) and
# real passwords refuse by name in _setup_decryption.

# §7.6.3.3 Algorithm 2 padding string (32 bytes, normative)
_CRYPT_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


from attic.operators.rc4 import rc4 as _rc4  # the shared legacy-decryption primitive


def _std_file_key(
    o: bytes, p: int, id0: bytes, r: int, n: int, extra: bytes = b""
) -> bytes:
    """§7.6.3.3 Algorithm 2 with the EMPTY user password: the file
    encryption key (n bytes). ``extra`` is the R4
    EncryptMetadata-false marker (step f)."""
    import hashlib
    import struct

    h = hashlib.md5()
    h.update(_CRYPT_PAD)  # empty password pads to the full pad string
    h.update(o)
    # /P as 32-bit little-endian; ISO 32000 says treat it as signed but
    # real writers emit the unsigned spelling too (4294967292 for -4) —
    # masking gives the identical four bytes for both and avoids a
    # struct.error that would escape the census's refusal fold
    h.update(struct.pack("<I", p & 0xFFFFFFFF))
    h.update(id0)
    h.update(extra)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _std_user_check(key: bytes, id0: bytes, r: int) -> bytes:
    """The /U value the empty user password produces (§7.6.3.4
    Algorithms 4/5) — compared against the file's /U to verify."""
    import hashlib

    if r == 2:
        return _rc4(key, _CRYPT_PAD)
    digest = hashlib.md5(_CRYPT_PAD + id0).digest()
    step = _rc4(key, digest)
    for i in range(1, 20):
        step = _rc4(bytes(b ^ i for b in key), step)
    return step  # R3/R4 comparison uses the first 16 bytes


def _hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    """ISO 32000-2 Algorithm 2.B — the R6 iterated SHA-2/AES KDF."""
    import hashlib

    from attic.operators.aes import aes_cbc_encrypt

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        digest = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ]
        k = digest(e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _strip_pkcs5(data: bytes, origin: str, what: str) -> bytes:
    """AES plaintexts carry PKCS#5 padding; a malformed pad is corrupt
    ciphertext (or the wrong key) and must be loud."""
    if not data:
        raise ValueError(
            f"pdf {origin}: {what}: empty AES plaintext (missing padding)"
        )
    p = data[-1]
    if not 1 <= p <= 16 or p > len(data) or data[-p:] != bytes([p]) * p:
        raise ValueError(
            f"pdf {origin}: {what}: invalid PKCS#5 padding byte {p:#04x}"
        )
    return data[:-p]


# --------------------------------------------------------------- document


class PdfDocument:
    """Parsed object graph: xref (tables + streams + /Prev chain), lazy
    object loads, object-stream extraction, filtered stream data."""

    def __init__(self, data: bytes, origin: str = "<bytes>"):
        if not looks_like_pdf(data):
            raise ValueError(
                f"pdf {origin}: not a PDF (bytes 0-4 {data[:5]!r})"
            )
        self.data = data
        self.origin = origin
        self.version = data[5:8].decode("latin-1", "replace")
        self.xref: dict = {}  # num -> ("n", offset) | ("s", objstm, idx)
        self.trailer: dict = {}
        self._cache: dict = {}
        self._loading: set = set()
        self._crypt_key: bytes | None = None
        self._crypt_exempt: int = -1  # the /Encrypt object's number
        self._crypt_aes: bool = False  # AESV2/AESV3 vs RC4
        self._crypt_v5: bool = False  # V5: the file key IS the object key
        self._load_xref()
        if "Encrypt" in self.trailer:
            self._setup_decryption()

    def _setup_decryption(self) -> None:
        """Standard-security RC4 with the empty user password (module
        docstring); everything else refuses by name. Runs BEFORE
        self._crypt_key is set, so the /Encrypt dictionary's own strings
        (/O, /U) parse raw — they are not encrypted, per spec."""
        origin = self.origin
        ref = self.trailer["Encrypt"]
        if isinstance(ref, _Ref):
            self._crypt_exempt = ref.num
        enc = self._resolve(ref)
        if not isinstance(enc, dict):
            raise ValueError(f"pdf {origin}: /Encrypt is not a dictionary")
        filt = str(self._resolve(enc.get("Filter", "")))
        if filt != "Standard":
            raise NotImplementedError(
                f"pdf {origin}: encrypted with security handler "
                f"/{filt or '?'} — only the Standard handler is "
                "implemented"
            )
        v = self._resolve(enc.get("V", 0))
        r = self._resolve(enc.get("R", 0))
        if v == 5:
            return self._setup_v5(enc, r)
        if v not in (1, 2, 4) or r not in (2, 3, 4) or (v == 4) != (r == 4):
            raise NotImplementedError(
                f"pdf {origin}: encrypted with /V {v!r} /R {r!r} — RC4 "
                "standard security (V 1/2, R 2/3), crypt filters "
                "(V4/R4: /V2 RC4 + /AESV2), and AES-256 (V5 R5/R6) are "
                "implemented; this combination is not"
            )
        length = self._resolve(enc.get("Length", 40)) if v >= 2 else 40
        extra_md5 = b""
        if v == 4:
            cfm = self._crypt_filter_cfm(enc)
            if cfm == "Identity":
                return  # passthrough filter: nothing is encrypted
            if cfm == "AESV2":
                self._crypt_aes = True
            elif cfm != "V2":
                raise NotImplementedError(
                    f"pdf {origin}: crypt filter /CFM /{cfm} not "
                    "implemented — /V2 (RC4) and /AESV2 decrypt here"
                )
            cf_len = self._cf_length(enc)
            if cf_len:
                length = cf_len
            em = self._resolve(enc.get("EncryptMetadata", True))
            if em is False:  # Algorithm 2 step f
                extra_md5 = b"\xff\xff\xff\xff"
        if not isinstance(length, int) or not 40 <= length <= 128 \
                or length % 8:
            raise ValueError(
                f"pdf {origin}: /Encrypt /Length {length!r} invalid"
            )
        o = self._resolve(enc.get("O"))
        u = self._resolve(enc.get("U"))
        p = self._resolve(enc.get("P"))
        if not isinstance(o, bytes) or len(o) != 32 \
                or not isinstance(u, bytes) or len(u) != 32 \
                or not isinstance(p, int):
            raise ValueError(
                f"pdf {origin}: /Encrypt /O and /U must be 32-byte "
                "strings and /P an integer"
            )
        ident = self.trailer.get("ID")
        if not isinstance(ident, list) or not ident \
                or not isinstance(ident[0], bytes):
            raise ValueError(
                f"pdf {origin}: encrypted document without a trailer /ID "
                "(required by the standard security handler)"
            )
        key = _std_file_key(o, p, ident[0], r, length // 8, extra_md5)
        want = _std_user_check(key, ident[0], r)
        cmp_len = 32 if r == 2 else 16
        if want[:cmp_len] != u[:cmp_len]:
            raise NotImplementedError(
                f"pdf {origin}: encrypted with a NON-EMPTY user password "
                "— password-based decryption beyond the empty-password "
                "standard case is not implemented"
            )
        self._crypt_key = key

    def _crypt_filter_cfm(self, enc: dict) -> str:
        """The ONE crypt-filter method this document uses for strings
        AND streams — per-class filter mixes refuse by name."""
        origin = self.origin
        stmf = str(self._resolve(enc.get("StmF", "Identity")))
        strf = str(self._resolve(enc.get("StrF", "Identity")))
        if stmf != strf:
            raise NotImplementedError(
                f"pdf {origin}: split crypt filters (/StmF /{stmf} vs "
                f"/StrF /{strf}) not implemented — one method for both "
                "classes decrypts here"
            )
        if stmf == "Identity":
            return "Identity"
        cf = self._resolve(enc.get("CF"))
        cfd = self._resolve(cf.get(stmf)) if isinstance(cf, dict) else None
        if not isinstance(cfd, dict):
            raise ValueError(
                f"pdf {origin}: crypt filter /{stmf} named by /StmF is "
                "missing from /CF"
            )
        self._cfd = cfd
        return str(self._resolve(cfd.get("CFM", "")))

    def _cf_length(self, enc: dict) -> int:
        """Crypt-filter /Length normalized to BITS (the spec says bytes
        there, but real writers emit either; 40..128 disambiguates)."""
        cfd = getattr(self, "_cfd", None)
        ln = self._resolve(cfd.get("Length")) if cfd else None
        if not isinstance(ln, int):
            return 0
        return ln * 8 if ln <= 32 else ln

    def _setup_v5(self, enc: dict, r: int) -> None:
        """AES-256 (V5, R5/R6 — ISO 32000-2 §7.6.4): validate the EMPTY
        user password against /U, unwrap the file key from /UE, check
        /Perms integrity. The file key is used DIRECTLY (no per-object
        derivation in V5)."""
        import hashlib

        from attic.operators.aes import aes_cbc_decrypt, aes_decrypt_block

        origin = self.origin
        if r not in (5, 6):
            raise NotImplementedError(
                f"pdf {origin}: /V 5 with /R {r!r} not implemented — "
                "R5 and R6 (AES-256) decrypt here"
            )
        cfm = self._crypt_filter_cfm(enc)
        if cfm == "Identity":
            return
        if cfm != "AESV3":
            raise NotImplementedError(
                f"pdf {origin}: V5 crypt filter /CFM /{cfm} not "
                "implemented — /AESV3 decrypts here"
            )
        u = self._resolve(enc.get("U"))
        ue = self._resolve(enc.get("UE"))
        if not isinstance(u, bytes) or len(u) != 48 \
                or not isinstance(ue, bytes) or len(ue) != 32:
            raise ValueError(
                f"pdf {origin}: /U must be 48 and /UE 32 bytes for V5"
            )
        vsalt, ksalt = u[32:40], u[40:48]
        if r == 6:
            want = _hash_2b(b"", vsalt, b"")
            ikey = _hash_2b(b"", ksalt, b"")
        else:  # R5 (deprecated Acrobat 9 scheme): single SHA-256
            want = hashlib.sha256(vsalt).digest()
            ikey = hashlib.sha256(ksalt).digest()
        if want != u[:32]:
            raise NotImplementedError(
                f"pdf {origin}: encrypted with a NON-EMPTY user password "
                "— password-based decryption beyond the empty-password "
                "standard case is not implemented"
            )
        key = aes_cbc_decrypt(ikey, b"\x00" * 16, ue)
        perms = self._resolve(enc.get("Perms"))
        if isinstance(perms, bytes) and len(perms) == 16:
            dec = aes_decrypt_block(key, perms)
            if dec[9:12] != b"adb":
                raise ValueError(
                    f"pdf {origin}: /Perms does not decrypt to the "
                    "'adb' marker — wrong file key or corrupt entry"
                )
        self._crypt_key = key
        self._crypt_aes = True
        self._crypt_v5 = True

    def _decrypt_value(self, v, okey: bytes):
        """Recursively decrypt an indirect object's strings and stream
        bytes with its per-object key (names/numbers untouched)."""
        if isinstance(v, bytes):
            return self._decrypt_bytes(v, okey, "string")
        if isinstance(v, list):
            return [self._decrypt_value(x, okey) for x in v]
        if isinstance(v, _Stream):
            v.d = self._decrypt_value(v.d, okey)
            v.raw = self._decrypt_bytes(v.raw, okey, "stream")
            return v
        if isinstance(v, dict):
            return {k: self._decrypt_value(x, okey) for k, x in v.items()}
        return v

    def _decrypt_bytes(self, raw: bytes, okey: bytes, what: str) -> bytes:
        if not self._crypt_aes:
            return _rc4(okey, raw)
        from attic.operators.aes import aes_cbc_decrypt

        if not raw:
            return raw  # writers store empty strings unwrapped
        if len(raw) < 32 or (len(raw) - 16) % 16:
            raise ValueError(
                f"pdf {self.origin}: AES-encrypted {what} of {len(raw)} "
                "bytes is not IV + whole ciphertext blocks"
            )
        plain = aes_cbc_decrypt(okey, raw[:16], raw[16:])
        return _strip_pkcs5(plain, self.origin, f"AES {what}")

    def _object_key(self, num: int, gen: int) -> bytes:
        """§7.6.2 Algorithm 1: the per-object key — MD5 over the file
        key + object number/generation (+ the AESV2 'sAlT' marker). V5
        skips derivation entirely: the file key is used directly."""
        import hashlib
        import struct

        if self._crypt_v5:
            return self._crypt_key
        h = hashlib.md5(
            self._crypt_key
            + struct.pack("<I", num)[:3]
            + struct.pack("<I", gen)[:2]
            + (b"sAlT" if self._crypt_aes else b"")
        )
        return h.digest()[: min(len(self._crypt_key) + 5, 16)]

    # -- xref loading

    def _load_xref(self) -> None:
        data, origin = self.data, self.origin
        tail = data[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise ValueError(f"pdf {origin}: no startxref anchor")
        pos = int(m.group(1))
        seen = set()
        while pos:
            if pos in seen:
                raise ValueError(
                    f"pdf {origin}: xref /Prev chain loops back to {pos}"
                )
            seen.add(pos)
            if pos >= len(data):
                raise ValueError(
                    f"pdf {origin}: xref offset {pos} outside the file"
                )
            lex = _Lexer(data, pos, origin)
            lex.skip_ws()
            if data[lex.pos : lex.pos + 4] == b"xref":
                trailer, entries = self._load_xref_table(lex.pos + 4)
                # hybrid-reference files (ISO 32000 7.5.8.4): the same
                # revision's /XRefStm carries type-2 entries for objects
                # the classic table marks FREE — the stream's entries
                # must win over those tombstones, so it merges FIRST
                xstm = trailer.get("XRefStm")
                if isinstance(xstm, int) and xstm not in seen:
                    if not 0 <= xstm < len(data):
                        raise ValueError(
                            f"pdf {origin}: /XRefStm offset {xstm} "
                            "outside the file"
                        )
                    seen.add(xstm)
                    self._load_xref_stream(xstm)
                for num, entry in entries.items():
                    self.xref.setdefault(num, entry)
            else:
                trailer = self._load_xref_stream(pos)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            pos = prev if isinstance(prev, int) else 0
            if pos < 0:
                raise ValueError(
                    f"pdf {origin}: /Prev offset {pos} is negative"
                )

    def _load_xref_table(self, pos: int) -> tuple:
        """Classic table → (trailer, {num: entry}) — entries are LOCAL so
        the caller can give the same revision's /XRefStm precedence over
        the table's free tombstones (the hybrid-reference layout)."""
        data, origin = self.data, self.origin
        lex = _Lexer(data, pos, origin)
        entries: dict = {}
        while True:
            lex.skip_ws()
            if data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.parse()
                if not isinstance(t, dict):
                    raise ValueError(f"pdf {origin}: trailer is not a dict")
                return t, entries
            start = lex.parse()
            count = lex.parse()
            if not isinstance(start, int) or not isinstance(count, int):
                raise ValueError(
                    f"pdf {origin}: xref subsection header is not two ints"
                )
            lex.skip_ws()
            for i in range(count):
                entry = data[lex.pos : lex.pos + 20]
                if len(entry) < 18:
                    raise ValueError(
                        f"pdf {origin}: xref entry {start + i} truncated"
                    )
                try:
                    off = int(entry[0:10])
                except ValueError:
                    raise ValueError(
                        f"pdf {origin}: xref entry {start + i} offset "
                        f"{entry[0:10]!r} is not numeric"
                    ) from None
                if off < 0:
                    # int() accepts "-000000005"; a negative offset would
                    # index the file from the END and silently parse the
                    # wrong object
                    raise ValueError(
                        f"pdf {origin}: xref entry {start + i} offset "
                        f"{off} is negative"
                    )
                kind = entry[17:18]
                if kind == b"n":
                    entries.setdefault(start + i, ("n", off))
                elif kind == b"f":
                    # free = tombstone: the NEWEST revision wins, so an
                    # older section must not resurrect a deleted object
                    entries.setdefault(start + i, ("f", 0))
                else:
                    raise ValueError(
                        f"pdf {origin}: xref entry {start + i} kind "
                        f"{kind!r} invalid"
                    )
                lex.pos += 20 if entry[18:20] in (b"\r\n", b" \n", b" \r") \
                    else 19 if entry[18:19] in b"\r\n " else 20

    def _load_xref_stream(self, pos: int) -> dict:
        origin = self.origin
        num, gen, obj = self._parse_indirect_at(pos)
        if not isinstance(obj, _Stream) or str(
            self._resolve(obj.d.get("Type", ""))
        ) != "XRef":
            raise ValueError(
                f"pdf {origin}: object at {pos} is not an XRef stream"
            )
        payload = self.stream_data(obj)
        w = [self._resolve(x) for x in self._resolve(obj.d.get("W", []))]
        if len(w) != 3 or any(not isinstance(x, int) or x < 0 for x in w):
            raise ValueError(f"pdf {origin}: XRef /W {w!r} invalid")
        size = self._resolve(obj.d.get("Size"))
        if not isinstance(size, int) or size < 0:
            raise ValueError(f"pdf {origin}: XRef /Size {size!r} invalid")
        index = self._resolve(obj.d.get("Index", [0, size]))
        if (
            not isinstance(index, list)
            or len(index) % 2
            or any(not isinstance(x, int) or x < 0 for x in index)
        ):
            raise ValueError(f"pdf {origin}: XRef /Index {index!r} invalid")
        rec = sum(w)
        if rec == 0:
            raise ValueError(f"pdf {origin}: XRef /W all-zero")
        fields = []
        for i in range(0, len(payload) - rec + 1, rec):
            vals = []
            o = i
            for width in w:
                v = int.from_bytes(payload[o : o + width], "big") if width \
                    else 1  # omitted type field defaults to 1, per spec
                vals.append(v)
                o += width
            fields.append(vals)
        it = iter(fields)
        for j in range(0, len(index), 2):
            start, count = index[j], index[j + 1]
            for k in range(count):
                try:
                    t, a, b = next(it)
                except StopIteration:
                    raise ValueError(
                        f"pdf {origin}: XRef stream shorter than /Index "
                        "declares"
                    ) from None
                numk = start + k
                if t == 1:
                    self.xref.setdefault(numk, ("n", a))
                elif t == 2:
                    self.xref.setdefault(numk, ("s", a, b))
                elif t == 0:  # free: tombstone (see the table loader)
                    self.xref.setdefault(numk, ("f", 0))
        return obj.d

    # -- object access

    def _parse_indirect_at(self, pos: int):
        data, origin = self.data, self.origin
        lex = _Lexer(data, pos, origin)
        num = lex.parse()
        gen = lex.parse()
        lex.skip_ws()
        if data[lex.pos : lex.pos + 3] != b"obj":
            raise ValueError(
                f"pdf {origin}: 'obj' keyword missing at byte {pos}"
            )
        lex.pos += 3
        got = lex.parse()
        if isinstance(got, tuple):  # (stream, data_start)
            stm, start = got
            length = self._resolve(stm.d.get("Length"))
            if not isinstance(length, int) or length < 0 \
                    or start + length > len(data):
                raise ValueError(
                    f"pdf {origin}: stream /Length {length!r} overruns "
                    f"the file at byte {start}"
                )
            stm.raw = data[start : start + length]
            got = stm
        return num, gen, got

    def obj(self, ref: _Ref):
        key = ref.num
        if key in self._cache:
            return self._cache[key]
        entry = self.xref.get(key)
        if entry is None or entry[0] == "f":
            return None  # missing/free object reads as null, per spec
        if key in self._loading:
            # general load-cycle breaker: the ObjStm container check
            # alone misses cycles THROUGH indirect dict values (e.g. an
            # ObjStm whose /Length lives inside that same ObjStm)
            raise ValueError(
                f"pdf {self.origin}: circular load of object {key}"
            )
        self._loading.add(key)
        try:
            if entry[0] == "n":
                _num, _gen, val = self._parse_indirect_at(entry[1])
                # directly-stored objects decrypt with their per-object
                # key (the /Encrypt dict itself is exempt, per spec);
                # object-stream members are NOT separately encrypted —
                # their container's stream bytes already were
                if self._crypt_key is not None \
                        and key != self._crypt_exempt:
                    val = self._decrypt_value(
                        val, self._object_key(_num, _gen)
                    )
            else:  # in an object stream
                _t, stm_num, idx = entry
                val = self._objstm_object(stm_num, idx)
        finally:
            self._loading.discard(key)
        self._cache[key] = val
        return val

    def _objstm_object(self, stm_num: int, idx: int):
        container = self.xref.get(stm_num)
        if container is None or container[0] != "n":
            # the spec forbids object streams inside object streams;
            # enforcing it here also breaks any crafted xref cycle
            # (A-in-B, B-in-A) before it can recurse
            raise ValueError(
                f"pdf {self.origin}: object stream {stm_num} is not a "
                "directly-stored object"
            )
        stm = self.obj(_Ref(stm_num, 0))
        if not isinstance(stm, _Stream) or str(
            self._resolve(stm.d.get("Type", ""))
        ) != "ObjStm":
            raise ValueError(
                f"pdf {self.origin}: object stream {stm_num} missing or "
                "mistyped"
            )
        payload = self.stream_data(stm)
        n = self._resolve(stm.d.get("N"))
        first = self._resolve(stm.d.get("First"))
        if not isinstance(n, int) or not isinstance(first, int) \
                or n < 0 or first < 0:
            raise ValueError(
                f"pdf {self.origin}: object stream {stm_num} /N {n!r} "
                f"/First {first!r} invalid"
            )
        lex = _Lexer(payload, 0, self.origin)
        pairs = []
        for _ in range(n):
            onum = lex.parse()
            ooff = lex.parse()
            if not isinstance(onum, int) or not isinstance(ooff, int) \
                    or onum < 0 or ooff < 0 \
                    or first + ooff > len(payload):
                raise ValueError(
                    f"pdf {self.origin}: object stream {stm_num} header "
                    f"pair ({onum!r}, {ooff!r}) invalid"
                )
            pairs.append((onum, ooff))
        if idx >= len(pairs):
            raise ValueError(
                f"pdf {self.origin}: object stream {stm_num} has no "
                f"index {idx}"
            )
        _onum, ooff = pairs[idx]
        inner = _Lexer(payload, first + ooff, self.origin)
        return inner.parse()

    def _resolve(self, v):
        seen = 0
        while isinstance(v, _Ref):
            v = self.obj(v)
            seen += 1
            if seen > 64:
                raise ValueError(
                    f"pdf {self.origin}: reference chain deeper than 64"
                )
        return v

    def stream_data(self, stm: _Stream) -> bytes:
        return _apply_filters(stm.raw, stm.d, self._resolve, self.origin)

    # -- page tree

    def pages(self) -> list:
        root = self._resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise ValueError(f"pdf {self.origin}: catalog /Root missing")
        tree = self._resolve(root.get("Pages"))
        out: list = []

        def walk(node, inherited_res, depth):
            if depth > 64:
                raise ValueError(
                    f"pdf {self.origin}: page tree deeper than 64"
                )
            node = self._resolve(node)
            if not isinstance(node, dict):
                raise ValueError(
                    f"pdf {self.origin}: page-tree node is not a dict"
                )
            res = self._resolve(node.get("Resources")) or inherited_res
            if not isinstance(res, dict):
                raise ValueError(
                    f"pdf {self.origin}: /Resources is not a dict"
                )
            t = str(self._resolve(node.get("Type", "")))
            if t == "Pages" or (t == "" and "Kids" in node):
                for kid in self._resolve(node.get("Kids", [])):
                    walk(kid, res, depth + 1)
            else:
                out.append((node, res or {}))

        walk(tree, {}, 0)
        return out


# ------------------------------------------------------------ text layer


_AHX = re.compile(rb"<([0-9A-Fa-f\s]*)>")


def _parse_tounicode(payload: bytes, origin: str):
    """ToUnicode CMap → decoder fn. Handles bfchar and bfrange (both the
    contiguous-destination and array forms), 1- and 2-byte codes (from
    the codespacerange, defaulting to the source-length of the first
    mapping)."""
    mapping: dict = {}
    code_len = None
    toks = payload
    for m in re.finditer(
        rb"beginbfchar(.*?)endbfchar|beginbfrange(.*?)endbfrange",
        toks, re.S,
    ):
        body = m.group(1)
        if body is not None:  # bfchar: <src> <dst> pairs
            hexes = _AHX.findall(body)
            for i in range(0, len(hexes) - 1, 2):
                src = bytes.fromhex(hexes[i].replace(b" ", b"").decode())
                dst = bytes.fromhex(
                    re.sub(rb"\s", b"", hexes[i + 1]).decode()
                )
                code_len = code_len or len(src)
                mapping[src] = dst.decode("utf-16-be", "replace")
        else:  # bfrange
            body = m.group(2)
            pos = 0
            while True:
                mm = re.search(
                    rb"<([0-9A-Fa-f\s]*)>\s*<([0-9A-Fa-f\s]*)>\s*"
                    rb"(<([0-9A-Fa-f\s]*)>|\[)",
                    body[pos:], re.S,
                )
                if not mm:
                    break
                lo = bytes.fromhex(re.sub(rb"\s", b"", mm.group(1)).decode())
                hi = bytes.fromhex(re.sub(rb"\s", b"", mm.group(2)).decode())
                code_len = code_len or len(lo)
                lo_i = int.from_bytes(lo, "big")
                hi_i = int.from_bytes(hi, "big")
                if hi_i - lo_i > 65535:
                    raise ValueError(
                        f"pdf {origin}: bfrange spans {hi_i - lo_i} codes"
                    )
                if mm.group(3) == b"[":
                    # array form: one destination per code
                    rest = body[pos + mm.end() :]
                    arr = _AHX.findall(rest.split(b"]", 1)[0])
                    for k in range(hi_i - lo_i + 1):
                        if k < len(arr):
                            dst = bytes.fromhex(
                                re.sub(rb"\s", b"", arr[k]).decode()
                            )
                            mapping[
                                (lo_i + k).to_bytes(len(lo), "big")
                            ] = dst.decode("utf-16-be", "replace")
                    pos += mm.end() + len(rest.split(b"]", 1)[0]) + 1
                else:
                    base = bytes.fromhex(
                        re.sub(rb"\s", b"", mm.group(4)).decode()
                    )
                    base_i = int.from_bytes(base, "big")
                    for k in range(hi_i - lo_i + 1):
                        mapping[(lo_i + k).to_bytes(len(lo), "big")] = (
                            (base_i + k).to_bytes(len(base), "big")
                            .decode("utf-16-be", "replace")
                        )
                    pos += mm.end()
    clen = code_len or 1

    def decode(bs: bytes) -> str:
        out = []
        for i in range(0, len(bs), clen):
            chunk = bs[i : i + clen]
            got = mapping.get(chunk)
            out.append(got if got is not None else "�")
        return "".join(out)

    return decode


def _font_decoder(doc: PdfDocument, font: dict):
    font = doc._resolve(font)
    if not isinstance(font, dict):
        raise ValueError(f"pdf {doc.origin}: font resource is not a dict")
    tu = doc._resolve(font.get("ToUnicode"))
    if isinstance(tu, _Stream):
        return _parse_tounicode(doc.stream_data(tu), doc.origin)
    subtype = str(doc._resolve(font.get("Subtype", "")))
    if subtype == "Type0":
        raise NotImplementedError(
            f"pdf {doc.origin}: CID-keyed (Type0) font without /ToUnicode "
            "— no glyph-list oracle in-container"
        )
    enc = doc._resolve(font.get("Encoding"))
    diffs = None
    if isinstance(enc, dict):
        base = str(doc._resolve(enc.get("BaseEncoding", ""))) or None
        if "Differences" in enc:
            diffs = doc._resolve(enc["Differences"])
            if not isinstance(diffs, list):
                raise ValueError(
                    f"pdf {doc.origin}: /Differences is not an array"
                )
        enc = base
    enc = str(enc) if enc else None
    if enc == "WinAnsiEncoding":
        codec = "cp1252"
    elif enc == "MacRomanEncoding":
        codec = "mac-roman"
    elif enc in (None, "StandardEncoding"):
        codec = "ascii"
    else:
        raise NotImplementedError(
            f"pdf {doc.origin}: font encoding /{enc} not implemented"
        )
    if diffs is None:
        return lambda bs: bs.decode(codec, "replace")
    return _differences_decoder(doc, diffs, codec)


def _differences_decoder(doc: PdfDocument, diffs: list, codec: str):
    """Per-byte decode table: the base encoding's 256 characters with
    the /Differences overrides applied — ``[code /name /name …]``, each
    integer resets the code, each glyph NAME assigns to consecutive
    codes (ISO 32000 §9.6.6.1). Glyph names resolve through the AGL
    core subset (``attic/operators/agl.py`` — every entry UCD-verified at
    import); a name outside it refuses BY NAME rather than guessing,
    and codes are attacker data (bounded 0..255, names before any code
    are structural errors). The common case this opens up: pdfTeX
    output, where every font carries /Differences."""
    from attic.operators.agl import glyph_to_text

    table = [bytes([i]).decode(codec, "replace") for i in range(256)]
    code = None
    for raw in diffs:
        item = doc._resolve(raw)
        if isinstance(item, _Name):
            if code is None:
                raise ValueError(
                    f"pdf {doc.origin}: /Differences names /{item} before "
                    "any code"
                )
            if code > 255:
                raise ValueError(
                    f"pdf {doc.origin}: /Differences run past code 255"
                )
            try:
                table[code] = glyph_to_text(str(item))
            except KeyError:
                raise NotImplementedError(
                    f"pdf {doc.origin}: /Differences glyph name /{item} "
                    "outside the AGL core subset — refusing rather than "
                    "guessing"
                ) from None
            code += 1
        elif isinstance(item, int) and not isinstance(item, bool):
            if not 0 <= item <= 255:
                raise ValueError(
                    f"pdf {doc.origin}: /Differences code {item} outside "
                    "0..255"
                )
            code = item
        else:
            raise ValueError(
                f"pdf {doc.origin}: /Differences entry {item!r} is "
                "neither a code nor a glyph name"
            )
    return lambda bs: "".join(table[b] for b in bs)


_OPER = re.compile(rb"[A-Za-z'\"][A-Za-z0-9*'\"]*")


def _page_text(doc: PdfDocument, page: dict, resources: dict) -> str:
    contents = doc._resolve(page.get("Contents"))
    if contents is None:
        return ""
    if isinstance(contents, list):
        payload = b"\n".join(
            doc.stream_data(doc._resolve(c)) for c in contents
        )
    elif isinstance(contents, _Stream):
        payload = doc.stream_data(contents)
    else:
        raise ValueError(f"pdf {doc.origin}: /Contents is not a stream")
    text = _content_text(doc, payload, resources, 0)
    text = re.sub(r"[ \t]+", " ", text)
    text = re.sub(r" ?\n ?", "\n", text)
    return re.sub(r"\n{2,}", "\n", text).strip()


def _content_text(doc: PdfDocument, payload: bytes, resources: dict,
                  depth: int) -> str:
    """One content stream → raw text. Form XObjects (the Do operator)
    RECURSE with their own /Resources (falling back to the caller's) —
    generators routinely put whole page bodies inside a form, so
    skipping them would be silent text loss. Image XObjects are skipped;
    the text font does not persist into a form here (a form inherits the
    caller's graphics state in full renderers — the ascii fallback keeps
    the extraction honest without a full state machine)."""
    if depth > 16:
        raise ValueError(
            f"pdf {doc.origin}: form XObjects nested deeper than 16"
        )
    fonts = doc._resolve(resources.get("Font")) or {}
    if not isinstance(fonts, dict):
        raise ValueError(f"pdf {doc.origin}: /Font resource is not a dict")
    decoders: dict = {}
    lex = _Lexer(payload, 0, doc.origin)
    stack: list = []
    out: list = []
    cur = None  # current font decoder
    n = len(payload)

    def show(bs: bytes) -> None:
        dec = cur if cur is not None else (
            lambda b: b.decode("ascii", "replace")
        )
        out.append(dec(bs))

    while True:
        lex.skip_ws()
        if lex.pos >= n:
            break
        c = payload[lex.pos]
        if c in b"/<([+-.0123456789":
            stack.append(lex.parse())
            continue
        m = _OPER.match(payload, lex.pos)
        if not m:
            raise ValueError(
                f"pdf {doc.origin}: content byte "
                f"0x{payload[lex.pos]:02X} at {lex.pos} is not an operator"
            )
        op = m.group(0)
        lex.pos = m.end()
        if op == b"BI":  # inline image: skip to EI at a token boundary
            e = payload.find(b"EI", lex.pos)
            while e != -1 and not (
                payload[e - 1 : e] in _WS
                and (e + 2 >= n or payload[e + 2 : e + 3] in _WS)
            ):
                e = payload.find(b"EI", e + 2)
            if e == -1:
                raise ValueError(
                    f"pdf {doc.origin}: inline image without EI"
                )
            lex.pos = e + 2
        elif op == b"Tf":
            if len(stack) >= 2 and isinstance(stack[-2], _Name):
                fname = str(stack[-2])
                if fname not in decoders:
                    fdict = doc._resolve(fonts.get(fname))
                    decoders[fname] = (
                        _font_decoder(doc, fdict) if fdict is not None
                        else None
                    )
                cur = decoders[fname]
        elif op == b"Tj":
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op in (b"'", b'"'):
            out.append("\n")
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
        elif op == b"TJ":
            if stack and isinstance(stack[-1], list):
                for item in stack[-1]:
                    if isinstance(item, bytes):
                        show(item)
                    elif isinstance(item, (int, float)) and item <= -180:
                        out.append(" ")  # large negative kern = word gap
        elif op == b"T*":
            out.append("\n")
        elif op in (b"Td", b"TD"):
            if len(stack) >= 1 and isinstance(stack[-1], (int, float)) \
                    and stack[-1] != 0:
                out.append("\n")
            elif out and not out[-1].endswith((" ", "\n")):
                out.append(" ")  # pure-x move: word gap at most
        elif op == b"Tm":
            out.append("\n")
        elif op == b"ET":
            out.append("\n")
        elif op == b"Do":
            if stack and isinstance(stack[-1], _Name):
                xobjs = doc._resolve(resources.get("XObject")) or {}
                if not isinstance(xobjs, dict):
                    raise ValueError(
                        f"pdf {doc.origin}: /XObject resource is not a dict"
                    )
                xo = doc._resolve(xobjs.get(str(stack[-1])))
                if isinstance(xo, _Stream):
                    sub = str(doc._resolve(xo.d.get("Subtype", "")))
                    if sub == "Form":
                        sub_res = (
                            doc._resolve(xo.d.get("Resources")) or resources
                        )
                        if not isinstance(sub_res, dict):
                            raise ValueError(
                                f"pdf {doc.origin}: form /Resources is "
                                "not a dict"
                            )
                        out.append("\n")
                        out.append(_content_text(
                            doc, doc.stream_data(xo), sub_res, depth + 1
                        ))
                    # Image XObjects carry no text: skipped
        stack.clear()
    return "".join(out)


# ------------------------------------------------------------- public API


def pdf_meta(data: bytes, origin: str = "<bytes>") -> dict:
    doc = PdfDocument(data, origin)
    return {
        "version": doc.version,
        "n_pages": len(doc.pages()),
        "n_objects": sum(1 for e in doc.xref.values() if e[0] != "f"),
    }


def pdf_to_text(data: bytes, origin: str = "<bytes>") -> str:
    """Document text, pages joined by blank lines."""
    doc = PdfDocument(data, origin)
    parts = []
    for page, res in doc.pages():
        t = _page_text(doc, page, res)
        if t:
            parts.append(t)
    return "\n\n".join(parts)


PDF_TEXT_SCHEMA = "doc_id long, n_pages long, n_chars long, text string"


def pdf_text_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """Spark fan-out: one typed text row per PDF payload via mapInPandas
    (Arrow batches; parse + extraction never leave the task)."""

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "n_pages": [], "n_chars": [], "text": []}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                b = bytes(payload)
                doc = PdfDocument(b, origin=str(doc_id))
                parts = []
                for page, res in doc.pages():
                    parts.append(_page_text(doc, page, res))
                text = "\n\n".join(p for p in parts if p)
                rows["doc_id"].append(doc_id)
                rows["n_pages"].append(len(parts))
                rows["n_chars"].append(len(text))
                rows["text"].append(text)
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, PDF_TEXT_SCHEMA)


# --------------------------------------------------------------- writer


def write_pdf(pages: list, origin: str = "<write>") -> bytes:
    """Minimal deterministic PDF writer: one Helvetica/WinAnsi text page
    per input string, Flate-compressed content streams, classic xref
    table. Exists for the same reason write_wav/encode_png do — the
    round trip closes the loop (``pdf_to_text(write_pdf(pages))``
    recovers cp1252-expressible text MODULO the extractor's documented
    whitespace normalization: runs of spaces/tabs collapse to one space,
    line edges trim — single-spaced trimmed text round-trips exactly)
    and the corpus demo can synthesize real PDFs from the fixture
    corpus. Same text in, same bytes out (zlib level pinned)."""
    if not pages or not all(isinstance(p, str) for p in pages):
        raise ValueError(f"pdf {origin}: write_pdf needs 1+ str pages")
    out = bytearray(b"%PDF-1.4\n")
    offsets = {}

    def add(num: int, body: bytes) -> None:
        offsets[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    n = len(pages)
    kids = b" ".join(b"%d 0 R" % (3 + i) for i in range(n))
    add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    add(2, b"<< /Type /Pages /Kids [%s] /Count %d /Resources "
           b"<< /Font << /F1 %d 0 R >> >> >>" % (kids, n, 3 + 2 * n))
    for i, text in enumerate(pages):
        add(3 + i, b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
                   b"/Contents %d 0 R >>" % (3 + n + i))
    for i, text in enumerate(pages):
        try:
            lines = [
                ln.encode("cp1252") for ln in text.split("\n")
            ]
        except UnicodeEncodeError as e:
            raise ValueError(
                f"pdf {origin}: page {i} has text outside WinAnsi "
                f"({e.object[e.start:e.start + 1]!r}) — write_pdf is the "
                "cp1252 subset by design"
            ) from None
        body = bytearray(b"BT /F1 11 Tf 72 720 Td 13 TL ")
        for j, ln in enumerate(lines):
            esc = ln.replace(b"\\", b"\\\\").replace(b"(", b"\\(") \
                    .replace(b")", b"\\)")
            if j:
                body.extend(b"T* ")
            body.extend(b"(" + esc + b") Tj ")
        body.extend(b"ET")
        payload = zlib.compress(bytes(body), 9)
        add(
            3 + n + i,
            b"<< /Filter /FlateDecode /Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream",
        )
    add(3 + 2 * n, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
                   b"/Encoding /WinAnsiEncoding >>")
    nmax = 3 + 2 * n
    xref_at = len(out)
    out.extend(b"xref\n0 %d\n0000000000 65535 f \n" % (nmax + 1))
    for i in range(1, nmax + 1):
        out.extend(b"%010d 00000 n \n" % offsets[i])
    out.extend(
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF"
        % (nmax + 1, xref_at)
    )
    return bytes(out)
