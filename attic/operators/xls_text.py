"""Legacy binary Excel (``.xls``, BIFF8 and BIFF5/7) text extraction —
from the public MS-XLS Open Specification, over the ``cfb.py`` container.

The second legacy-Office leg (after ``doc_text.py``): the ``Workbook``
stream (BIFF8) or ``Book`` stream (BIFF5/7, r15) is a BIFF record
stream (2-byte id, 2-byte length, payload; payloads over 8224 bytes
spill into CONTINUE records). The text path:

* globals substream: ``BOF`` (version gate — BIFF8 ``0x0600`` and
  BIFF5/7 ``0x0500`` decode; anything older refuses by name),
  ``FILEPASS`` — r16: BIFF8 RC4 standard encryption (MS-OFFCRYPTO
  §2.3.6) DECRYPTS when the workbook verifies against the documented
  default ``VelvetSweatshop`` password (Excel's transparent
  "no-password" encryption, bulk-common in crawled corpora): MD5 block
  keys over 1024-byte absolute offsets, §2.2.10 plaintext-record
  exemptions incl. BoundSheet8's ``lbPlyPos``; RC4 CryptoAPI (§2.3.5,
  what Excel 2002+ writes — SHA1 block keys, the 40-bit zero-extension)
  decrypts under the same default password; XOR obfuscation, CryptoAPI
  AES, and REAL passwords refuse by name — ``CODEPAGE``
  (BIFF5/7 byte strings decode STRICTLY in the declared codepage,
  cp1252 when absent; a codepage with no decoder here refuses by
  name),
  ``BOUNDSHEET`` entries (sheet names in tab order + each substream's
  offset; only worksheets extract, chart/VB modules are skipped), and
  the ``SST`` shared-string table (BIFF8; BIFF5/7 has none — labels are
  inline LABEL/RSTRING byte strings);
* the SST is the format's notorious corner: ``XLUnicodeRichExtendedString``
  entries whose CHARACTER data may split across CONTINUE boundaries, and
  every continuation of character data re-specifies its own
  high-byte flag — a string can switch between compressed (low-byte)
  and UTF-16 encodings mid-string. ``_SstCursor`` models exactly that:
  raw fields (counts, rich runs, ExtRst) cross boundaries byte-wise,
  character runs re-read the flag byte at each boundary;
* per-sheet substreams: ``LABELSST`` (SST ref, index validated),
  ``LABEL`` (inline string), ``NUMBER`` (IEEE double), ``RK`` and
  ``MULRK`` (the packed 30-bit/scaled encodings, decoded per spec),
  ``BOOLERR`` (booleans and the seven error literals), and ``FORMULA``
  cached results (number / bool / error inline; string results from the
  following ``STRING`` record, with ``SHRFMLA``/``ARRAY``/``TABLE``
  legitimately intervening);
* output mirrors ``office_text.xlsx_to_text``: sheet name, one line per
  non-empty row (cells tab-joined in column order), sheets separated by
  blank lines, the same whitespace normalization — so the SAME workbook
  saved as .xls and .xlsx extracts to the SAME text. Numbers print via
  the raw-stored-value rule (integral doubles as integers, the xlsx
  convention where the stored ``<v>`` carries no decimal point).

Guards: record lengths are attacker data — a record overrunning the
stream, an SST index out of range, an RK array not matching its column
span, or a split mid-UTF-16-code-unit names its byte offset. Formats
this module recognizes but does not decode (password-protected,
XOR-obfuscated, and CryptoAPI-AES workbooks, pre-BIFF5 streams,
codepages without an in-stdlib decoder) refuse BY NAME.

Scale posture: one payload per task via ``doc_text.doc_text_frame``'s
shape (the census calls this in the same mapInPandas pass); work is
linear in the record stream.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``doc_text.py``/``office_text.py``.
"""

from __future__ import annotations

import struct

from attic.operators.cfb import cfb_subformat, parse_cfb

_BIFF8 = 0x0600
_R_BOF = 0x0809
_R_EOF = 0x000A
_R_CONTINUE = 0x003C
_R_FILEPASS = 0x002F
_R_BOUNDSHEET = 0x0085
_R_SST = 0x00FC
_R_LABELSST = 0x00FD
_R_LABEL = 0x0204
_R_NUMBER = 0x0203
_R_RK = 0x027E
_R_MULRK = 0x00BD
_R_BOOLERR = 0x0205
_R_FORMULA = 0x0006
_R_STRING = 0x0207
_R_SHRFMLA = 0x04BC
_R_ARRAY = 0x0221
_R_TABLE = 0x0236
_R_CODEPAGE = 0x0042
_R_RSTRING = 0x00D6
_BIFF5 = 0x0500


class _Fmt:
    """Stream-level format state: BIFF8 strings are XLUnicode (flagged
    compressed/UTF-16); BIFF5/7 strings are byte strings in the
    workbook's declared CODEPAGE (record 0x0042; cp1252 when absent —
    the Excel-for-Windows default the spec documents). Decoding is
    STRICT per the repo contract: an undecodable byte names the
    codepage instead of folding to U+FFFD."""

    def __init__(self, biff5: bool, origin: str):
        self.biff5 = biff5
        self.origin = origin
        self._codec = "cp1252"
        self._cp = None  # declared number, resolved lazily (below)

    def set_codepage(self, cp: int, at: int) -> None:
        if cp == 1200:  # UTF-16, the BIFF8 marker value: no byte codec
            if self.biff5:
                raise ValueError(
                    f"xls {self.origin}: BIFF5 CODEPAGE 1200 at byte "
                    f"{at} is malformed (byte strings cannot be UTF-16)"
                )
            return
        # resolution to a codec happens at the FIRST byte string that
        # needs it: a pure-unicode BIFF8 workbook declaring a codepage
        # Python has no cp{N} codec for (Excel-for-Mac 10000, 20127, …)
        # must keep decoding — XLUnicode strings never touch the byte
        # codec (same laziness as msg_text's _declared_codepage)
        self._cp = cp

    def decode_bytes(self, raw: bytes, what: str) -> str:
        from attic.operators.textcodec import codepage_codec, strict_decode

        if self._cp is not None:
            self._codec = codepage_codec(self._cp, self.origin, "xls")
            self._cp = None
        return strict_decode(raw, self._codec, self.origin, what, "xls")

_ERROR_NAMES = {
    0x00: "#NULL!", 0x07: "#DIV/0!", 0x0F: "#VALUE!", 0x17: "#REF!",
    0x1D: "#NAME?", 0x24: "#NUM!", 0x2A: "#N/A",
}


def _records(stream: bytes, origin: str, start: int = 0):
    """(id, payload, offset) walk; CONTINUE records are yielded as-is —
    the SST parser collects its own."""
    pos = start
    n = len(stream)
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", stream, pos)
        if pos + 4 + ln > n:
            raise ValueError(
                f"xls {origin}: record {rid:#06x} at byte {pos} declares "
                f"{ln} bytes past the stream end"
            )
        yield rid, stream[pos + 4 : pos + 4 + ln], pos
        pos += 4 + ln
        if rid == _R_EOF:
            return
    if pos != n:
        raise ValueError(
            f"xls {origin}: truncated record header at byte {pos}"
        )


class _SstCursor:
    """Reader over the SST record + its CONTINUE fragments implementing
    the split rules (module docstring)."""

    def __init__(self, fragments: list, origin: str):
        self._frags = fragments
        self._fi = 0
        self._off = 0
        self._origin = origin

    def _advance(self) -> None:
        while self._fi < len(self._frags) and self._off >= len(
            self._frags[self._fi]
        ):
            self._fi += 1
            self._off = 0

    def read_raw(self, n: int) -> bytes:
        out = bytearray()
        while n > 0:
            self._advance()
            if self._fi >= len(self._frags):
                raise ValueError(
                    f"xls {self._origin}: SST ends {n} bytes early"
                )
            frag = self._frags[self._fi]
            take = min(n, len(frag) - self._off)
            out += frag[self._off : self._off + take]
            self._off += take
            n -= take
        return bytes(out)

    def read_chars(self, cch: int, high: int) -> str:
        out = []
        while cch > 0:
            self._advance()
            if self._fi >= len(self._frags):
                raise ValueError(
                    f"xls {self._origin}: SST string ends {cch} "
                    "characters early"
                )
            frag = self._frags[self._fi]
            if self._off == 0:
                # character data continuing into a new fragment
                # RE-SPECIFIES its high-byte flag (MS-XLS §2.5.293)
                high = frag[0] & 1
                self._off = 1
            avail = len(frag) - self._off
            unit = 2 if high else 1
            take = min(cch, avail // unit)
            if take == 0:
                if avail:
                    raise ValueError(
                        f"xls {self._origin}: SST fragment splits a "
                        "UTF-16 code unit"
                    )
                self._off = len(frag)
                continue
            raw = frag[self._off : self._off + take * unit]
            out.append(
                raw.decode("utf-16-le") if high else raw.decode("latin-1")
            )
            self._off += take * unit
            cch -= take
        return "".join(out)


def _parse_sst(fragments: list, origin: str) -> list:
    cur = _SstCursor(fragments, origin)
    cur.read_raw(4)  # cstTotal (refs, unused here)
    (unique,) = struct.unpack("<i", cur.read_raw(4))
    if unique < 0:
        raise ValueError(f"xls {origin}: SST declares {unique} strings")
    out = []
    for _ in range(unique):
        (cch,) = struct.unpack("<H", cur.read_raw(2))
        flags = cur.read_raw(1)[0]
        high = flags & 0x01
        ext = flags & 0x04
        rich = flags & 0x08
        crun = struct.unpack("<H", cur.read_raw(2))[0] if rich else 0
        cbext = struct.unpack("<i", cur.read_raw(4))[0] if ext else 0
        if cbext < 0:
            raise ValueError(f"xls {origin}: SST ExtRst size {cbext}")
        out.append(cur.read_chars(cch, high))
        if crun:
            cur.read_raw(4 * crun)
        if cbext:
            cur.read_raw(cbext)
    return out


def _short_string(data: bytes, at: int, origin: str, fmt: _Fmt) -> tuple:
    """BOUNDSHEET name: BIFF8 ShortXLUnicodeString (1-byte cch + flag),
    BIFF5 1-byte cch + codepage bytes. Returns (text, bytes consumed)."""
    cch = data[at]
    if fmt.biff5:
        raw = data[at + 1 : at + 1 + cch]
        if len(raw) != cch:
            raise ValueError(f"xls {origin}: sheet name truncated")
        return fmt.decode_bytes(raw, "sheet name"), 1 + cch
    flags = data[at + 1]
    unit = 2 if flags & 1 else 1
    raw = data[at + 2 : at + 2 + cch * unit]
    if len(raw) != cch * unit:
        raise ValueError(f"xls {origin}: sheet name truncated")
    return (
        raw.decode("utf-16-le") if flags & 1 else raw.decode("latin-1"),
        2 + cch * unit,
    )


def _inline_string(data: bytes, at: int, origin: str, what: str, fmt: _Fmt) -> str:
    """LABEL/RSTRING/STRING body: BIFF8 XLUnicodeString (2-byte cch +
    flag), BIFF5 2-byte cch + codepage bytes. Trailing bytes (RSTRING's
    rich runs) are the caller's to ignore."""
    if at + 2 > len(data):
        raise ValueError(f"xls {origin}: {what} string header truncated")
    (cch,) = struct.unpack_from("<H", data, at)
    if fmt.biff5:
        raw = data[at + 2 : at + 2 + cch]
        if len(raw) != cch:
            raise ValueError(f"xls {origin}: {what} string truncated")
        return fmt.decode_bytes(raw, what)
    if at + 3 > len(data):
        raise ValueError(f"xls {origin}: {what} string header truncated")
    flags = data[at + 2]
    unit = 2 if flags & 1 else 1
    raw = data[at + 3 : at + 3 + cch * unit]
    if len(raw) != cch * unit:
        raise ValueError(f"xls {origin}: {what} string truncated")
    return raw.decode("utf-16-le") if flags & 1 else raw.decode("latin-1")


def _need(body: bytes, n: int, what: str, at: int, origin: str) -> None:
    """Fixed-layout records are length-checked BEFORE any unpack — a
    short body must raise this module's ValueError (struct.error and
    IndexError are not ValueErrors and would escape the census fold,
    killing the whole mapInPandas task on one malformed payload)."""
    if len(body) < n:
        raise ValueError(
            f"xls {origin}: {what} record at byte {at} carries "
            f"{len(body)} bytes (need {n})"
        )


def _fmt_num(x: float, origin: str, at: int) -> str:
    """The raw-stored-value convention: integral doubles print as
    integers (xlsx's stored ``<v>`` carries no point for them).
    Non-finite payloads refuse — a conforming writer stores error codes
    in BOOLERR, never NaN/Inf doubles (and int() on them would raise
    the WRONG exception type)."""
    import math

    if math.isnan(x) or math.isinf(x):
        raise ValueError(
            f"xls {origin}: non-finite number cell at byte {at}"
        )
    if x == int(x) and abs(x) < 1e15:
        return str(int(x))
    return repr(x)


def _rk_value(rk: int) -> float:
    val: float
    if rk & 0x02:  # 30-bit signed integer
        v = rk >> 2
        if v & (1 << 29):
            v -= 1 << 30
        val = float(v)
    else:  # high 30 bits of an IEEE double
        val = struct.unpack(
            "<d", struct.pack("<I", 0) + struct.pack("<I", rk & 0xFFFFFFFC)
        )[0]
    return val / 100.0 if rk & 0x01 else val


def _bool_err(val: int, is_err: int, origin: str) -> str:
    if is_err:
        name = _ERROR_NAMES.get(val)
        if name is None:
            raise ValueError(f"xls {origin}: unknown error literal {val:#x}")
        return name
    return "TRUE" if val else "FALSE"


# --- FILEPASS RC4 decryption (r16) -------------------------------------------
#
# MS-OFFCRYPTO §2.3.6 "Office Binary Document RC4 Encryption" — the BIFF8
# standard encryption, tried with the DOCUMENTED default password
# "VelvetSweatshop": Excel applies it transparently when the user sets no
# open-password ("encrypt contents" without a password), so crawled
# corpora are full of such workbooks that open everywhere without a
# prompt. Real passwords are refused by name — no guessing beyond the
# published default (the pdf_text empty-user-password posture). Both
# RC4 headers decrypt: binary-document (§2.3.6, MD5 block keys) and
# CryptoAPI (§2.3.5, SHA1 block keys — Excel 2002+). XOR obfuscation
# (§2.3.7) and CryptoAPI AES refuse by name.

_XLS_DEFAULT_PW = "VelvetSweatshop"  # MS-OFFCRYPTO documented default
_RC4_BLOCK = 1024  # stream re-keys every 1024 bytes (absolute offsets)
# payloads that stay PLAINTEXT in an encrypted stream (MS-XLS §2.2.10):
# BOF, FilePass, UsrExcl, FileLock, InterfaceHdr, RRDInfo, RRDHead —
# plus every record HEADER and BoundSheet8's 4-byte lbPlyPos field.
# Keystream is still CONSUMED over plaintext bytes (absolute-offset
# discipline), which the full-keystream XOR below gets for free.
_PLAINTEXT_RECS = frozenset(
    {0x0809, 0x002F, 0x0194, 0x0195, 0x00E1, 0x0196, 0x0138}
)


def _rc4_base(password: str, salt: bytes) -> bytes:
    """§2.3.6.2: the 5 key-derivation bytes every block key hashes."""
    import hashlib

    h0 = hashlib.md5(password.encode("utf-16-le")).digest()
    return hashlib.md5((h0[:5] + salt) * 16).digest()[:5]


def _rc4_block_key(base5: bytes, block: int) -> bytes:
    import hashlib

    return hashlib.md5(base5 + struct.pack("<I", block)).digest()


def _decrypt_filepass(
    wb: bytes, body: bytes, at: int, biff5: bool, origin: str
) -> bytes:
    """FILEPASS dispatch: verify the default password and decrypt, or
    refuse by name."""
    import hashlib

    from attic.operators.rc4 import rc4

    if biff5:
        raise NotImplementedError(
            f"xls {origin}: BIFF5 encrypted workbook (FILEPASS XOR "
            "obfuscation) not implemented"
        )
    _need(body, 2, "FILEPASS", at, origin)
    (wtype,) = struct.unpack_from("<H", body, 0)
    if wtype == 0:
        raise NotImplementedError(
            f"xls {origin}: XOR-obfuscated workbook (FILEPASS type 0) "
            "not implemented"
        )
    if wtype != 1:
        raise ValueError(
            f"xls {origin}: FILEPASS encryption type {wtype:#06x} at "
            f"byte {at} is not XOR (0) or RC4 (1)"
        )
    _need(body, 6, "FILEPASS", at, origin)
    vmaj, vmin = struct.unpack_from("<HH", body, 2)
    if vmaj in (2, 3, 4) and vmin == 2:
        # RC4 CryptoAPI (§2.3.5) — what Excel 2002+ writes; the default
        # password applies here too
        return _decrypt_filepass_cryptoapi(wb, body, at, origin)
    if (vmaj, vmin) != (1, 1):
        raise NotImplementedError(
            f"xls {origin}: FILEPASS RC4 header version {vmaj}.{vmin} "
            "not implemented — binary-document RC4 (1.1) and CryptoAPI "
            "(2.2/3.2/4.2) decrypt here"
        )
    _need(body, 54, "FILEPASS", at, origin)
    salt = body[6:22]
    base5 = _rc4_base(_XLS_DEFAULT_PW, salt)
    # verifier check: ONE cipher state across both 16-byte fields
    plain = rc4(_rc4_block_key(base5, 0), body[22:54])
    if hashlib.md5(plain[:16]).digest() != plain[16:32]:
        raise NotImplementedError(
            f"xls {origin}: RC4-encrypted workbook is password-protected "
            f"beyond the default {_XLS_DEFAULT_PW!r} password — "
            "password-based decryption is not implemented"
        )
    return _decrypt_rc4_stream(
        wb, lambda b: _rc4_block_key(base5, b), origin
    )


def _capi_block_key(h0: bytes, block: int, keybits: int) -> bytes:
    """§2.3.5.2: SHA1(H0 + LE32(block)) truncated to the key size; the
    infamous 40-bit case zero-extends to 128 bits of RC4 key material."""
    import hashlib

    hfinal = hashlib.sha1(h0 + struct.pack("<I", block)).digest()
    key = hfinal[: keybits // 8]
    if keybits == 40:
        key += b"\x00" * 11
    return key


def _decrypt_filepass_cryptoapi(
    wb: bytes, body: bytes, at: int, origin: str
) -> bytes:
    """FILEPASS RC4 CryptoAPI (MS-OFFCRYPTO §2.3.5, MS-XLS FilePass):
    EncryptionHeader + EncryptionVerifier, SHA1 key derivation, the same
    1024-byte-block stream cipher and §2.2.10 plaintext exemptions."""
    import hashlib

    from attic.operators.rc4 import rc4

    _need(body, 14, "FILEPASS", at, origin)
    (hdr_size,) = struct.unpack_from("<I", body, 10)
    if 14 + hdr_size > len(body):
        raise ValueError(
            f"xls {origin}: FILEPASS CryptoAPI header declares "
            f"{hdr_size} bytes past the record end at byte {at}"
        )
    hdr = body[14 : 14 + hdr_size]
    if len(hdr) < 24:
        raise ValueError(
            f"xls {origin}: FILEPASS CryptoAPI header of {len(hdr)} "
            "bytes is shorter than its fixed fields"
        )
    alg_id, _alg_hash, key_size = struct.unpack_from("<III", hdr, 8)
    if alg_id not in (0x6801, 0):  # CALG_RC4 (0 = context default)
        raise NotImplementedError(
            f"xls {origin}: CryptoAPI cipher AlgID {alg_id:#x} not "
            "implemented — only RC4 (0x6801) decrypts here (AES "
            "FILEPASS workbooks need CSP plumbing)"
        )
    keybits = key_size or 40  # 0 means the 40-bit default
    if keybits % 8 or not 40 <= keybits <= 128:
        raise ValueError(
            f"xls {origin}: CryptoAPI RC4 key size {keybits} bits "
            "invalid (spec range 40-128)"
        )
    ver = body[14 + hdr_size :]
    if len(ver) < 60:
        raise ValueError(
            f"xls {origin}: FILEPASS CryptoAPI verifier of {len(ver)} "
            "bytes is shorter than its fixed fields"
        )
    (salt_size,) = struct.unpack_from("<I", ver, 0)
    if salt_size != 16:
        raise ValueError(
            f"xls {origin}: CryptoAPI salt size {salt_size} is not 16"
        )
    salt = ver[4:20]
    everifier = ver[20:36]
    (vhash_size,) = struct.unpack_from("<I", ver, 36)
    if vhash_size != 20:  # SHA1
        raise ValueError(
            f"xls {origin}: CryptoAPI verifier-hash size {vhash_size} "
            "is not 20 (SHA1)"
        )
    evhash = ver[40:60]
    h0 = hashlib.sha1(
        salt + _XLS_DEFAULT_PW.encode("utf-16-le")
    ).digest()
    # ONE cipher state across verifier + hash, block 0
    plain = rc4(_capi_block_key(h0, 0, keybits), everifier + evhash)
    if hashlib.sha1(plain[:16]).digest() != plain[16:36]:
        raise NotImplementedError(
            f"xls {origin}: CryptoAPI RC4-encrypted workbook is "
            f"password-protected beyond the default {_XLS_DEFAULT_PW!r} "
            "password — password-based decryption is not implemented"
        )
    return _decrypt_rc4_stream(
        wb, lambda b: _capi_block_key(h0, b, keybits), origin
    )


def _decrypt_rc4_stream(wb: bytes, block_key, origin: str) -> bytes:
    """XOR the whole stream's keystream (re-keyed per 1024-byte block at
    absolute offsets — ``block_key(b)`` supplies the MD5 or SHA1 block
    key) into every encrypted payload byte; headers and the §2.2.10
    plaintext records pass through with their keystream spent."""
    from attic.operators.rc4 import rc4_keystream

    n = len(wb)
    ks = bytearray()
    for b in range((n + _RC4_BLOCK - 1) // _RC4_BLOCK):
        ks += rc4_keystream(
            block_key(b), min(_RC4_BLOCK, n - b * _RC4_BLOCK)
        )
    out = bytearray(wb)
    pos = 0
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", wb, pos)
        if pos + 4 + ln > n:
            raise ValueError(
                f"xls {origin}: record {rid:#06x} at byte {pos} declares "
                f"{ln} bytes past the stream end"
            )
        if rid not in _PLAINTEXT_RECS and ln:
            start = pos + 4
            if rid == _R_BOUNDSHEET:
                start += 4  # lbPlyPos stays plaintext
            out[start : pos + 4 + ln] = bytes(
                a ^ b
                for a, b in zip(
                    wb[start : pos + 4 + ln], ks[start : pos + 4 + ln]
                )
            )
        pos += 4 + ln
    if pos != n:
        raise ValueError(
            f"xls {origin}: truncated record header at byte {pos} in the "
            "encrypted stream"
        )
    return bytes(out)


def xls_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """Every worksheet in tab order: sheet name, one line per non-empty
    row (cells tab-joined in column order), sheets separated by blank
    lines — the ``xlsx_to_text`` shape, same normalization."""
    return _extract(parse_cfb(payload, origin), origin)[0]


def _extract(cfb, origin: str) -> tuple:
    """(normalized text, worksheet count) — ONE parse of the Workbook
    stream; ``xls_to_text``/``xls_meta``/``doc_text.doc_meta`` all ride
    this so the census never parses a payload twice."""
    if cfb_subformat(cfb) != "xls":
        raise ValueError(
            f"xls {origin}: compound file has no Workbook/Book stream"
        )
    try:
        wb = cfb.read_stream("Workbook")
    except ValueError:
        # BIFF5/7 workbooks live in a "Book" stream (r15: decoded for
        # real — byte strings in the declared CODEPAGE, no SST)
        wb = cfb.read_stream("Book")
    return _extract_wb(wb, origin)


def _extract_wb(wb: bytes, origin: str, decrypted: bool = False) -> tuple:
    from attic.operators.office_text import _normalize

    # ---- globals substream
    sheets: list = []  # (name, offset)
    sst: list = []
    recs = _records(wb, origin)
    rid, body, at = next(recs, (None, b"", 0))
    if rid != _R_BOF:
        raise ValueError(
            f"xls {origin}: Workbook stream does not open with BOF "
            f"(record {rid:#06x} at byte {at})" if rid is not None
            else f"xls {origin}: empty Workbook stream"
        )
    _need(body, 2, "BOF", at, origin)
    (vers,) = struct.unpack_from("<H", body, 0)
    if vers not in (_BIFF8, _BIFF5):
        raise NotImplementedError(
            f"xls {origin}: BIFF version {vers:#06x} not implemented "
            "(BIFF8 0x0600 and BIFF5/7 0x0500 decode; older streams "
            "are laid out differently)"
        )
    fmt = _Fmt(vers == _BIFF5, origin)
    pending_sst: list | None = None
    for rid, body, at in recs:
        if pending_sst is not None and rid != _R_CONTINUE:
            sst = _parse_sst(pending_sst, origin)
            pending_sst = None
        if rid == _R_FILEPASS:
            if decrypted:
                continue  # spent: its payload stays plaintext by spec
            # RC4 standard encryption (MS-OFFCRYPTO §2.3.6) with the
            # documented default password decrypts for real (r16);
            # XOR obfuscation / CryptoAPI / real passwords refuse by
            # name inside _decrypt_filepass
            return _extract_wb(
                _decrypt_filepass(wb, body, at, fmt.biff5, origin),
                origin,
                decrypted=True,
            )
        if rid == _R_CODEPAGE:
            _need(body, 2, "CODEPAGE", at, origin)
            fmt.set_codepage(struct.unpack_from("<H", body, 0)[0], at)
        elif rid == _R_BOUNDSHEET:
            _need(body, 8, "BOUNDSHEET", at, origin)
            (pos,) = struct.unpack_from("<I", body, 0)
            dt = body[5]
            name, _ = _short_string(body, 6, origin, fmt)
            if dt == 0:  # worksheet (charts/VB modules carry no cells)
                sheets.append((name, pos))
        elif rid == _R_SST:
            pending_sst = [body]
        elif rid == _R_CONTINUE and pending_sst is not None:
            pending_sst.append(body)
    if pending_sst is not None:
        sst = _parse_sst(pending_sst, origin)

    # ---- per-sheet substreams
    blocks = []
    for name, pos in sheets:
        if pos >= len(wb):
            raise ValueError(
                f"xls {origin}: sheet {name!r} offset {pos} outside the "
                f"{len(wb)}-byte Workbook stream"
            )
        cells: dict = {}

        def put(rw: int, col: int, text: str) -> None:
            cells[(rw, col)] = text

        srecs = _records(wb, origin, start=pos)
        rid, body, at = next(srecs, (None, b"", pos))
        if rid != _R_BOF:
            raise ValueError(
                f"xls {origin}: sheet {name!r} substream at byte {pos} "
                "does not open with BOF"
            )
        want_string_for: tuple | None = None
        for rid, body, at in srecs:
            if want_string_for is not None and rid not in (
                _R_SHRFMLA, _R_ARRAY, _R_TABLE,
            ):
                if rid != _R_STRING:
                    raise ValueError(
                        f"xls {origin}: formula at {want_string_for} "
                        "declares a string result but no STRING record "
                        f"follows (got {rid:#06x} at byte {at})"
                    )
                put(*want_string_for,
                    _inline_string(body, 0, origin, "STRING", fmt))
                want_string_for = None
                continue
            if rid == _R_LABELSST:
                _need(body, 10, "LABELSST", at, origin)
                rw, col, _ixfe, isst = struct.unpack_from("<HHHI", body, 0)
                if isst >= len(sst):
                    raise ValueError(
                        f"xls {origin}: LABELSST at byte {at} references "
                        f"SST entry {isst} of {len(sst)}"
                    )
                put(rw, col, sst[isst])
            elif rid == _R_LABEL:
                _need(body, 9, "LABEL", at, origin)
                rw, col, _ixfe = struct.unpack_from("<HHH", body, 0)
                put(rw, col, _inline_string(body, 6, origin, "LABEL", fmt))
            elif rid == _R_RSTRING:
                # rich-text label (BIFF5's common rich form, legal in
                # BIFF8 too): text like LABEL, trailing run data ignored
                _need(body, 9, "RSTRING", at, origin)
                rw, col, _ixfe = struct.unpack_from("<HHH", body, 0)
                put(rw, col, _inline_string(body, 6, origin, "RSTRING", fmt))
            elif rid == _R_NUMBER:
                _need(body, 14, "NUMBER", at, origin)
                rw, col, _ixfe = struct.unpack_from("<HHH", body, 0)
                (num,) = struct.unpack_from("<d", body, 6)
                put(rw, col, _fmt_num(num, origin, at))
            elif rid == _R_RK:
                _need(body, 10, "RK", at, origin)
                rw, col, _ixfe = struct.unpack_from("<HHH", body, 0)
                (rk,) = struct.unpack_from("<I", body, 6)
                put(rw, col, _fmt_num(_rk_value(rk), origin, at))
            elif rid == _R_MULRK:
                _need(body, 12, "MULRK", at, origin)
                rw, col0 = struct.unpack_from("<HH", body, 0)
                (col1,) = struct.unpack_from("<H", body, len(body) - 2)
                span = col1 - col0 + 1
                if span < 1 or 4 + 6 * span + 2 != len(body):
                    raise ValueError(
                        f"xls {origin}: MULRK at byte {at} spans "
                        f"{col0}..{col1} but carries {len(body)} bytes"
                    )
                for i in range(span):
                    (rk,) = struct.unpack_from("<I", body, 4 + 6 * i + 2)
                    put(rw, col0 + i, _fmt_num(_rk_value(rk), origin, at))
            elif rid == _R_BOOLERR:
                _need(body, 8, "BOOLERR", at, origin)
                rw, col, _ixfe, val, err = struct.unpack_from(
                    "<HHHBB", body, 0
                )
                put(rw, col, _bool_err(val, err, origin))
            elif rid == _R_FORMULA:
                _need(body, 14, "FORMULA", at, origin)
                rw, col, _ixfe = struct.unpack_from("<HHH", body, 0)
                cached = body[6:14]
                if cached[6:8] == b"\xff\xff":
                    kind = cached[0]
                    if kind == 0:  # string result in the STRING record
                        want_string_for = (rw, col)
                    elif kind == 1:
                        put(rw, col, _bool_err(cached[2], 0, origin))
                    elif kind == 2:
                        put(rw, col, _bool_err(cached[2], 1, origin))
                    elif kind == 3:
                        put(rw, col, "")
                    else:
                        raise ValueError(
                            f"xls {origin}: formula cached-result kind "
                            f"{kind} at byte {at} unknown"
                        )
                else:
                    (num,) = struct.unpack("<d", cached)
                    put(rw, col, _fmt_num(num, origin, at))
        if want_string_for is not None:
            # EOF twin of the mid-stream check above: a dangling string
            # formula must refuse loudly, not silently drop the cell
            # (ADVICE r14)
            raise ValueError(
                f"xls {origin}: formula at {want_string_for} declares a "
                "string result but the sheet substream ends before its "
                "STRING record"
            )
        lines = [name]
        rows: dict = {}
        for (rw, col), text in cells.items():
            if text != "":
                rows.setdefault(rw, []).append((col, text))
        for rw in sorted(rows):
            lines.append(
                "\t".join(t for _, t in sorted(rows[rw]))
            )
        blocks.append("\n".join(lines))
    return _normalize("\n\n".join(blocks)), len(sheets)


def xls_meta(payload: bytes, origin: str = "<bytes>") -> dict:
    """Census facts: worksheet count + extracted character count (one
    parse, one record walk)."""
    text, n_sheets = _extract(parse_cfb(payload, origin), origin)
    return {"n_sheets": n_sheets, "n_chars": len(text)}
