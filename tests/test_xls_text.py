"""BIFF8 .xls extraction tests — Workbook streams hand-assembled record
by record (an independent test-side encoder, never the parser's own
bytes), wrapped in real CFB containers, including the SST CONTINUE split
rules that make the format notorious."""

from __future__ import annotations

import struct

import pytest

from attic.operators.xls_text import (
    _rk_value,
    xls_meta,
    xls_to_text,
)
from tests.test_doc_text import _make_cfb


def _rec(rid: int, body: bytes) -> bytes:
    return struct.pack("<HH", rid, len(body)) + body


def _bof(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HHHHII", 0x0600, dt, 0, 0, 0, 0))


def _boundsheet(pos: int, dt: int, name: str) -> bytes:
    raw = name.encode("latin-1")
    return _rec(
        0x0085,
        struct.pack("<IBB", pos, 0, dt) + bytes([len(raw), 0]) + raw,
    )


def _sst_string(s: str, rich_runs: int = 0, ext_bytes: int = 0) -> bytes:
    try:
        raw = s.encode("latin-1")
        flags = 0
    except UnicodeEncodeError:
        raw = s.encode("utf-16-le")
        flags = 1
    if rich_runs:
        flags |= 0x08
    if ext_bytes:
        flags |= 0x04
    out = struct.pack("<HB", len(s), flags)
    if rich_runs:
        out += struct.pack("<H", rich_runs)
    if ext_bytes:
        out += struct.pack("<i", ext_bytes)
    out += raw
    out += b"\x00" * (4 * rich_runs) + b"\xee" * ext_bytes
    return out


def _sst(strings: list, refs: int | None = None) -> bytes:
    body = struct.pack("<ii", refs if refs is not None else len(strings),
                       len(strings))
    for s in strings:
        body += _sst_string(s) if isinstance(s, str) else s
    return _rec(0x00FC, body)


def _labelsst(rw: int, col: int, isst: int) -> bytes:
    return _rec(0x00FD, struct.pack("<HHHI", rw, col, 0, isst))


def _number(rw: int, col: int, num: float) -> bytes:
    return _rec(0x0203, struct.pack("<HHHd", rw, col, 0, num))


def _rk(rw: int, col: int, rk: int) -> bytes:
    return _rec(0x027E, struct.pack("<HHHI", rw, col, 0, rk))


def _boolerr(rw: int, col: int, val: int, err: int) -> bytes:
    return _rec(0x0205, struct.pack("<HHHBB", rw, col, 0, val, err))


def _formula_num(rw: int, col: int, num: float) -> bytes:
    return _rec(0x0006, struct.pack("<HHHd", rw, col, 0, num) + b"\x00" * 8)


def _formula_str(rw: int, col: int) -> bytes:
    cached = b"\x00" + b"\x00" * 5 + b"\xff\xff"
    return _rec(0x0006, struct.pack("<HHH", rw, col, 0) + cached + b"\x00" * 8)


def _string_rec(s: str) -> bytes:
    raw = s.encode("latin-1")
    return _rec(0x0207, struct.pack("<HB", len(s), 0) + raw)


_EOF = _rec(0x000A, b"")


def _workbook(globals_recs: list, sheets: list) -> bytes:
    """sheets: list of (name, [cell records]). Returns the Workbook
    stream with BOUNDSHEET offsets resolved."""
    # assemble sheet substreams first to learn their sizes
    subs = [_bof(0x0010) + b"".join(cells) + _EOF for _, cells in sheets]
    # globals: BOF + boundsheets + extra + EOF
    bs_len = sum(
        len(_boundsheet(0, 0, name)) for name, _ in sheets
    )
    head_len = len(_bof(0x0005)) + bs_len + sum(map(len, globals_recs)) + len(_EOF)
    offs = []
    at = head_len
    for sub in subs:
        offs.append(at)
        at += len(sub)
    out = _bof(0x0005)
    for (name, _), pos in zip(sheets, offs):
        out += _boundsheet(pos, 0, name)
    out += b"".join(globals_recs) + _EOF
    for sub in subs:
        out += sub
    return out


def _xls(globals_recs: list, sheets: list) -> bytes:
    return _make_cfb({"Workbook": _workbook(globals_recs, sheets)})


def test_basic_workbook_extracts_like_xlsx():
    wb = _xls(
        [_sst(["hello", "wörld"])],
        [
            ("Sheet1", [
                _labelsst(0, 0, 0),
                _labelsst(0, 1, 1),
                _number(1, 0, 42.0),
                _number(1, 1, 2.5),
            ]),
            ("Data", [_labelsst(0, 0, 0)]),
        ],
    )
    assert xls_to_text(wb, "t") == (
        "Sheet1\nhello wörld\n42 2.5\n\nData\nhello"
    )
    m = xls_meta(wb, "t")
    assert m["n_sheets"] == 2 and m["n_chars"] > 0


def test_rk_mulrk_boolerr_formula():
    # RK encodings: int, int/100, double-high-bits, double/100
    rk_int = (123 << 2) | 0x02
    rk_int100 = ((-4567 & ((1 << 30) - 1)) << 2) | 0x03
    d_bits = struct.unpack("<Q", struct.pack("<d", 1.5))[0]
    rk_dbl = (d_bits >> 32) & 0xFFFFFFFC
    assert _rk_value(rk_int) == 123.0
    assert _rk_value(rk_int100) == -45.67
    assert _rk_value(rk_dbl) == 1.5
    mulrk = _rec(0x00BD, struct.pack("<HH", 2, 1)
                 + struct.pack("<HI", 0, rk_int)
                 + struct.pack("<HI", 0, rk_dbl)
                 + struct.pack("<H", 2))
    wb = _xls(
        [_sst([])],
        [("S", [
            _rk(0, 0, rk_int100),
            mulrk,
            _boolerr(3, 0, 1, 0),
            _boolerr(3, 1, 0x07, 1),
            _formula_num(4, 0, 9.25),
            _formula_str(5, 0),
            _string_rec("cached result"),
        ])],
    )
    assert xls_to_text(wb, "t") == (
        "S\n-45.67\n123 1.5\nTRUE #DIV/0!\n9.25\ncached result"
    )


def test_sst_continue_split_respecifies_high_byte():
    """A string whose character data crosses a CONTINUE boundary: the
    continuation starts with its own flag byte and may switch encodings
    mid-string (compressed tail after a UTF-16 head)."""
    # entry: cch=6, flags=1 (utf-16); 3 chars in the SST record, then
    # the CONTINUE re-specifies flags=0 and carries 3 compressed chars
    part1 = struct.pack("<ii", 1, 1) + struct.pack("<HB", 6, 1) \
        + "hél".encode("utf-16-le")
    part2 = b"\x00" + b"lo!"
    sst = _rec(0x00FC, part1) + _rec(0x003C, part2)
    wb_stream = (
        _bof(0x0005)
        + _boundsheet(0, 0, "S")  # patched below
        + sst + _EOF
    )
    sheet = _bof(0x0010) + _labelsst(0, 0, 0) + _EOF
    # resolve the sheet offset (boundsheet body bytes 0-3)
    full = wb_stream + sheet
    at = full.index(_rec(0x0085, b"")[:2])  # first boundsheet record
    patched = bytearray(full)
    struct.pack_into("<I", patched, at + 4, len(wb_stream))
    data = _make_cfb({"Workbook": bytes(patched)})
    assert xls_to_text(data, "t") == "S\nhéllo!"


def test_sst_split_between_strings_has_no_flag_byte():
    """A boundary falling BETWEEN strings: the next string's cch starts
    the CONTINUE directly (no flag byte)."""
    s0 = _sst_string("first")
    s1 = _sst_string("second")
    part1 = struct.pack("<ii", 2, 2) + s0
    sst = _rec(0x00FC, part1) + _rec(0x003C, s1)
    wb_stream = _bof(0x0005) + _boundsheet(0, 0, "S") + sst + _EOF
    sheet = _bof(0x0010) + _labelsst(0, 0, 1) + _EOF
    full = bytearray(wb_stream + sheet)
    at = full.index(_rec(0x0085, b"")[:2])
    struct.pack_into("<I", full, at + 4, len(wb_stream))
    data = _make_cfb({"Workbook": bytes(full)})
    assert xls_to_text(data, "t") == "S\nsecond"


def test_sst_rich_and_ext_payloads_are_skipped():
    rich = _sst_string("styled", rich_runs=2, ext_bytes=5)
    wb = _xls([_sst([rich, "plain"])],
              [("S", [_labelsst(0, 0, 0), _labelsst(1, 0, 1)])])
    assert xls_to_text(wb, "t") == "S\nstyled\nplain"


def test_refusals_by_name():
    # pre-BIFF5 version word
    old = _rec(0x0809, struct.pack("<HHHHII", 0x0400, 5, 0, 0, 0, 0)) + _EOF
    with pytest.raises(NotImplementedError, match="BIFF version 0x0400"):
        xls_to_text(_make_cfb({"Workbook": old}), "t")
    # XOR-obfuscated workbook (RC4 with the default password decrypts
    # since r16 — see the FILEPASS section below)
    enc = _bof(0x0005) + _rec(0x002F, b"\x00\x00") + _EOF
    with pytest.raises(NotImplementedError, match="XOR-obfuscated"):
        xls_to_text(_make_cfb({"Workbook": enc}), "t")
    # not an xls container at all
    with pytest.raises(ValueError, match="no Workbook/Book"):
        xls_to_text(_make_cfb({"Whatever": b"\x00"}), "t")


# ------------------------------------------------------- BIFF5/7 (r15)

def _bof5(dt: int) -> bytes:
    return _rec(0x0809, struct.pack("<HH", 0x0500, dt))


def _boundsheet5(pos: int, dt: int, name: str, cp="cp1252") -> bytes:
    raw = name.encode(cp)
    return _rec(
        0x0085,
        struct.pack("<IBB", pos, 0, dt) + bytes([len(raw)]) + raw,
    )


def _label5(rw: int, col: int, s: str, cp="cp1252") -> bytes:
    raw = s.encode(cp)
    return _rec(
        0x0204,
        struct.pack("<HHH", rw, col, 0) + struct.pack("<H", len(raw)) + raw,
    )


def _rstring5(rw: int, col: int, s: str, runs: int = 2, cp="cp1252") -> bytes:
    raw = s.encode(cp)
    return _rec(
        0x00D6,
        struct.pack("<HHH", rw, col, 0)
        + struct.pack("<H", len(raw)) + raw
        + bytes([runs]) + b"\x00\x00" * runs,
    )


def _book5(globals_recs: list, sheets: list) -> bytes:
    """BIFF5 twin of _workbook: Book stream, byte-string boundsheets."""
    subs = [_bof5(0x0010) + b"".join(cells) + _EOF for _, cells in sheets]
    bs_len = sum(len(_boundsheet5(0, 0, name)) for name, _ in sheets)
    head_len = len(_bof5(0x0005)) + bs_len + sum(map(len, globals_recs)) + len(_EOF)
    offs = []
    at = head_len
    for sub in subs:
        offs.append(at)
        at += len(sub)
    out = _bof5(0x0005)
    for (name, _), pos in zip(sheets, offs):
        out += _boundsheet5(pos, 0, name)
    out += b"".join(globals_recs) + _EOF
    for sub in subs:
        out += sub
    return _make_cfb({"Book": out})


def test_biff5_book_stream_extracts():
    """BIFF5/7 decodes for real (r15): Book stream, inline cp1252 byte
    strings (incl. the 0x93/0x94 curly quotes), numbers and RKs."""
    wb = _book5(
        [],
        [("Hoja", [
            _label5(0, 0, "“hola”"),   # cp1252 93/94
            _number(0, 1, 2.5),
            _rk(1, 0, (7 << 2) | 0x02),          # integer RK 7
        ])],
    )
    assert xls_to_text(wb, "t") == "Hoja\n“hola” 2.5\n7"


def test_biff5_codepage_record_switches_decoder():
    wb = _book5(
        [_rec(0x0042, struct.pack("<H", 866))],
        [("S", [_label5(0, 0, "привет", cp="cp866")])],
    )
    assert xls_to_text(wb, "t") == "S\nпривет"


def test_biff5_strict_decode_and_unknown_codepage():
    # 0x81 is undefined in cp1252: strict decode refuses, names the codec
    bad = _rec(0x0204, struct.pack("<HHH", 0, 0, 0) + struct.pack("<H", 1) + b"\x81")
    wb = _book5([], [("S", [bad])])
    with pytest.raises(ValueError, match="not decodable as cp1252"):
        xls_to_text(wb, "t")
    # a codepage with no stdlib decoder refuses by name at the first
    # byte string that needs it (resolution is LAZY since r16 — a
    # workbook that never decodes a byte string keeps extracting)
    wb = _book5(
        [_rec(0x0042, struct.pack("<H", 54321))],
        [("S", [_label5(0, 0, "hi")])],
    )
    with pytest.raises(NotImplementedError, match="codepage 54321"):
        xls_to_text(wb, "t")


def test_biff8_exotic_codepage_is_lazy_when_unicode_only():
    """r16 ADVICE: BIFF8 XLUnicode strings never touch the byte codec,
    so a pure-unicode workbook declaring a codepage Python has no cp{N}
    decoder for (Excel-for-Mac 10000) must keep extracting — resolution
    happens lazily at the first BYTE string that needs it (BIFF5)."""
    wb = _xls(
        [_rec(0x0042, struct.pack("<H", 10000)), _sst(["hello", "wörld"])],
        [("Sheet1", [_labelsst(0, 0, 0), _labelsst(0, 1, 1)])],
    )
    assert xls_to_text(wb, "t") == "Sheet1\nhello wörld"
    # BIFF5, same exotic codepage: the first byte string refuses by name
    wb5 = _book5(
        [_rec(0x0042, struct.pack("<H", 10000))],
        [("S", [_label5(0, 0, "hi")])],
    )
    with pytest.raises(NotImplementedError, match="codepage 10000"):
        xls_to_text(wb5, "t")


def test_biff5_rstring_and_formula_string():
    frm = _formula_str(0, 0)
    srec = _rec(0x0207, struct.pack("<H", 3) + b"sum")
    wb = _book5([], [("S", [_rstring5(1, 0, "rich"), frm, srec])])
    assert xls_to_text(wb, "t") == "S\nsum\nrich"


def test_malformed_structures_refuse_with_offsets():
    # record overruns the stream
    bad = _bof(0x0005)[:-2]
    with pytest.raises(ValueError, match="truncated record header|past the stream"):
        xls_to_text(_make_cfb({"Workbook": bad + b"\x00"}), "t")
    # LABELSST referencing a missing SST entry
    wb = _xls([_sst(["only"])], [("S", [_labelsst(0, 0, 7)])])
    with pytest.raises(ValueError, match="SST entry 7 of 1"):
        xls_to_text(wb, "t")
    # MULRK span/length mismatch
    bad_mulrk = _rec(0x00BD, struct.pack("<HH", 0, 1)
                     + struct.pack("<HI", 0, 0x02)
                     + struct.pack("<H", 5))
    wb = _xls([_sst([])], [("S", [bad_mulrk])])
    with pytest.raises(ValueError, match="MULRK .* spans"):
        xls_to_text(wb, "t")
    # formula declares a string result but no STRING record follows
    wb = _xls([_sst([])], [("S", [_formula_str(0, 0), _number(1, 0, 1.0)])])
    with pytest.raises(ValueError, match="no STRING record"):
        xls_to_text(wb, "t")
    # ... and the stream-end twin (ADVICE r14): the substream runs out of
    # BYTES (no EOF record) while the formula is still waiting — the record
    # walk ends cleanly at pos == n, so without the post-loop check the
    # cell was silently dropped. (A present EOF record is yielded and hits
    # the mid-stream check above.)
    head = _bof(0x0005)
    bs_len = len(_boundsheet(0, 0, "S"))
    head_len = len(head) + bs_len + len(_EOF)
    wb_stream = (
        head + _boundsheet(head_len, 0, "S") + _EOF
        + _bof(0x0010) + _formula_str(0, 0)  # sheet substream, no EOF
    )
    with pytest.raises(ValueError, match="ends before its STRING record"):
        xls_to_text(_make_cfb({"Workbook": wb_stream}), "t")


def test_census_reports_xls_chars():
    from attic.operators.media_census import classify_media

    wb = _xls([_sst(["census cell"])], [("S", [_labelsst(0, 0, 0)])])
    row = classify_media(wb, "t")
    assert (row["family"], row["format"]) == ("document", "xls")
    n = len(xls_to_text(wb, "t"))
    assert row["detail"] == f"{n} chars"


from hypothesis import given, settings
from hypothesis import strategies as st

_cp1252_ok = st.text(
    alphabet=st.characters(
        min_codepoint=0x20, max_codepoint=0x7E
    ),
    min_size=1,
    max_size=12,
)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 20), st.integers(0, 8), _cp1252_ok
        ),
        min_size=1,
        max_size=20,
        unique_by=lambda t: (t[0], t[1]),
    )
)
def test_biff5_label_grid_round_trip_property(cells):
    """r15 property: arbitrary LABEL grids through the test-side BIFF5
    encoder extract exactly the row-major tab-joined (then normalized)
    text the cell map dictates."""
    from attic.operators.office_text import _normalize

    recs = [_label5(rw, col, s) for rw, col, s in cells]
    wb = _book5([], [("S", recs)])
    got = xls_to_text(wb, "t")
    grid: dict = {}
    for rw, col, s in cells:
        grid.setdefault(rw, {})[col] = s
    lines = ["S"]
    for rw in sorted(grid):
        row = grid[rw]
        lines.append("\t".join(row[c] for c in sorted(row)))
    assert got == _normalize("\n".join(lines))


# ------------------------------------------------- FILEPASS RC4 (r16)
#
# The encrypted fixtures are built by an INDEPENDENT test-side
# implementation of MS-OFFCRYPTO §2.3.6 (key derivation, verifier,
# 1024-byte-block stream cipher, §2.2.10 plaintext exemptions) — a
# derivation or exemption mistake on either side breaks the
# equal-to-plain-twin assertion loudly.


def _t_rc4(key: bytes, data: bytes) -> bytes:
    s = list(range(256))
    j = 0
    for i in range(256):
        j = (j + s[i] + key[i % len(key)]) % 256
        s[i], s[j] = s[j], s[i]
    i = j = 0
    out = []
    for b in data:
        i = (i + 1) % 256
        j = (j + s[i]) % 256
        s[i], s[j] = s[j], s[i]
        out.append(b ^ s[(s[i] + s[j]) % 256])
    return bytes(out)


def _t_base5(password: str, salt: bytes) -> bytes:
    import hashlib

    h0 = hashlib.md5(password.encode("utf-16-le")).digest()
    return hashlib.md5((h0[:5] + salt) * 16).digest()[:5]


def _t_bkey(base5: bytes, block: int) -> bytes:
    import hashlib

    return hashlib.md5(base5 + struct.pack("<I", block)).digest()


_T_EXEMPT = {0x0809, 0x002F, 0x0194, 0x0195, 0x00E1, 0x0196, 0x0138}


def _splice_and_encrypt(plain_wb: bytes, fpbody: bytes,
                        block_key) -> bytes:
    """Splice a FILEPASS after the globals BOF (fixing lbPlyPos) and
    encrypt every non-exempt payload with the per-1024-block keystream
    from ``block_key(b)`` (None = leave plaintext, for refusal
    fixtures)."""
    fp = _rec(0x002F, fpbody)
    _, ln = struct.unpack_from("<HH", plain_wb, 0)
    bof_end = 4 + ln
    wb = bytearray(plain_wb[:bof_end] + fp + plain_wb[bof_end:])
    n = len(wb)
    recs = []
    pos = 0
    while pos + 4 <= n:
        rid, ln = struct.unpack_from("<HH", wb, pos)
        if rid == 0x0085:  # BoundSheet8: shift lbPlyPos by the splice
            (p,) = struct.unpack_from("<I", wb, pos + 4)
            struct.pack_into("<I", wb, pos + 4, p + len(fp))
        recs.append((rid, pos, ln))
        pos += 4 + ln
    assert pos == n
    if block_key is not None:
        ks = bytearray()
        for b in range((n + 1023) // 1024):
            ks += _t_rc4(block_key(b), bytes(min(1024, n - b * 1024)))
        for rid, pos, ln in recs:
            if rid in _T_EXEMPT or ln == 0:
                continue
            s = pos + 4 + (4 if rid == 0x0085 else 0)
            e = pos + 4 + ln
            wb[s:e] = bytes(a ^ b for a, b in zip(wb[s:e], ks[s:e]))
    return _make_cfb({"Workbook": bytes(wb)})


def _encrypt_xls(plain_wb: bytes, password: str = "VelvetSweatshop",
                 filepass: bytes | None = None) -> bytes:
    """Binary-document RC4 (MD5) fixture; `filepass` overrides the
    record body for the refusal fixtures (left plaintext)."""
    import hashlib

    salt = bytes(range(16))
    verifier = b"0123456789abcdef"
    base5 = _t_base5(password, salt)
    if filepass is not None:
        return _splice_and_encrypt(plain_wb, filepass, None)
    ev = _t_rc4(_t_bkey(base5, 0),
                verifier + hashlib.md5(verifier).digest())
    fpbody = struct.pack("<HHH", 1, 1, 1) + salt + ev
    return _splice_and_encrypt(plain_wb, fpbody,
                               lambda b: _t_bkey(base5, b))


def _t_capi_key(h0: bytes, block: int, keybits: int) -> bytes:
    import hashlib

    hf = hashlib.sha1(h0 + struct.pack("<I", block)).digest()
    k = hf[: keybits // 8]
    if keybits == 40:
        k += b"\x00" * 11
    return k


def _encrypt_xls_capi(plain_wb: bytes, password: str = "VelvetSweatshop",
                      keybits: int = 40, alg_id: int = 0x6801) -> bytes:
    """RC4 CryptoAPI (SHA1) fixture — MS-OFFCRYPTO §2.3.5 header +
    verifier built independently."""
    import hashlib

    salt = bytes(range(16, 32))
    verifier = b"abcdefghijklmnop"
    h0 = hashlib.sha1(salt + password.encode("utf-16-le")).digest()
    ev = _t_rc4(_t_capi_key(h0, 0, keybits),
                verifier + hashlib.sha1(verifier).digest())
    csp = "Microsoft Base Cryptographic Provider v1.0\x00".encode(
        "utf-16-le"
    )
    hdr = struct.pack("<IIIIIIII", 0, 0, alg_id, 0x8004, keybits,
                      1, 0, 0) + csp
    ver = (struct.pack("<I", 16) + salt + ev[:16]
           + struct.pack("<I", 20) + ev[16:36])
    fpbody = struct.pack("<HHHII", 1, 3, 2, 0, len(hdr)) + hdr + ver
    if alg_id != 0x6801:  # refusal fixture: leave payloads plaintext
        return _splice_and_encrypt(plain_wb, fpbody, None)
    return _splice_and_encrypt(plain_wb, fpbody,
                               lambda b: _t_capi_key(h0, b, keybits))


def test_filepass_rc4_default_password_decrypts():
    """A VelvetSweatshop-encrypted workbook (Excel's transparent
    no-password encryption) extracts EXACTLY like its plain twin —
    SST + labels + numbers across two sheets, enough payload to cross
    the 1024-byte re-key boundary."""
    sst_strings = [f"cell text {i} with some padding" for i in range(40)]
    sheets = [
        ("Alpha", [_labelsst(r, 0, r % 40) for r in range(30)]
                  + [_number(r, 1, r + 0.5) for r in range(30)]),
        ("Beta", [_labelsst(0, 0, 7)]),
    ]
    plain_wb = _workbook([_sst(sst_strings)], sheets)
    assert len(plain_wb) > 2048  # multi-block keystream is exercised
    plain = _make_cfb({"Workbook": plain_wb})
    enc = _encrypt_xls(plain_wb)
    assert xls_to_text(enc, "t") == xls_to_text(plain, "t")
    assert xls_meta(enc, "t") == xls_meta(plain, "t")


def test_filepass_refusals_by_name():
    plain_wb = _workbook([_sst(["x"])], [("S", [_labelsst(0, 0, 0)])])
    # a REAL password refuses by name (no guessing beyond the default)
    with pytest.raises(NotImplementedError, match="VelvetSweatshop"):
        xls_to_text(_encrypt_xls(plain_wb, password="hunter2"), "t")
    # XOR obfuscation
    with pytest.raises(NotImplementedError, match="XOR-obfuscated"):
        xls_to_text(
            _encrypt_xls(plain_wb, filepass=struct.pack("<HHH", 0, 1, 1)),
            "t",
        )
    # an unknown RC4 header version
    with pytest.raises(NotImplementedError, match="header version 5.1"):
        xls_to_text(
            _encrypt_xls(
                plain_wb,
                filepass=struct.pack("<HHH", 1, 5, 1) + bytes(48),
            ),
            "t",
        )
    # CryptoAPI with a non-RC4 cipher (AES AlgID) refuses by name
    with pytest.raises(NotImplementedError, match="AlgID 0x660e"):
        xls_to_text(_encrypt_xls_capi(plain_wb, alg_id=0x660E), "t")
    # CryptoAPI with a real password
    with pytest.raises(NotImplementedError, match="VelvetSweatshop"):
        xls_to_text(_encrypt_xls_capi(plain_wb, password="hunter2"), "t")
    # BIFF5 FILEPASS (XOR-era)
    wb5 = _book5([_rec(0x002F, bytes(4))], [("S", [])])
    with pytest.raises(NotImplementedError, match="BIFF5 encrypted"):
        xls_to_text(wb5, "t")


@pytest.mark.parametrize("keybits", [40, 128])
def test_filepass_cryptoapi_default_password_decrypts(keybits):
    """RC4 CryptoAPI (Excel 2002+): SHA1 block keys, the 40-bit
    zero-extension, same stream discipline — default-password workbooks
    extract exactly like their plain twins."""
    sst_strings = [f"capi cell {i} with padding bytes" for i in range(40)]
    sheets = [
        ("Uno", [_labelsst(r, 0, r % 40) for r in range(30)]
                + [_number(r, 1, r * 1.5) for r in range(30)]),
        ("Dos", [_labelsst(0, 0, 3)]),
    ]
    plain_wb = _workbook([_sst(sst_strings)], sheets)
    assert len(plain_wb) > 2048
    plain = _make_cfb({"Workbook": plain_wb})
    enc = _encrypt_xls_capi(plain_wb, keybits=keybits)
    assert xls_to_text(enc, "t") == xls_to_text(plain, "t")
    assert xls_meta(enc, "t") == xls_meta(plain, "t")


def test_filepass_truncated_header_is_loud():
    plain_wb = _workbook([_sst(["x"])], [("S", [_labelsst(0, 0, 0)])])
    with pytest.raises(ValueError, match="FILEPASS"):
        xls_to_text(
            _encrypt_xls(plain_wb, filepass=struct.pack("<HHH", 1, 1, 1)
                         + bytes(10)),
            "t",
        )
