"""Legacy binary Word (``.doc``) text extraction — from the public
MS-DOC Open Specification, stdlib-only, over the ``cfb.py`` container.

The biggest document-family gap a real enterprise/crawl dump hits: a
legacy dump carries far more ``.doc`` than RTF or ODT. The simplest-form
path the spec defines for text:

* ``WordDocument`` stream → FIB: ``wIdent`` 0xA5EC, ``nFib`` from the
  Word-97 family (0x00C1/0x00D9/0x0101/0x010C/0x0112 — all of which
  share the FibRgFcLcb97 prefix this module reads). Word 95 and earlier
  (nFib < 0x00C1) has a different FIB layout and refuses by name;
  ``fEncrypted`` (XOR obfuscation / RC4) refuses by name;
* ``fWhichTblStm`` picks the ``1Table``/``0Table`` stream; ``fcClx``/
  ``lcbClx`` (FIB offsets 0x01A2/0x01A6) locate the Clx there;
* Clx = Prc blocks (clxt 0x01, skipped — property modifiers don't move
  text) then the Pcdt (clxt 0x02) holding the PIECE TABLE (PlcPcd):
  n+1 CPs then n PCDs. Each PCD's ``FcCompressed`` names where the
  piece's characters live in ``WordDocument`` — bit 30 set means
  one-byte characters at ``fc/2`` (the spec's byte→char mapping table
  for 0x82..0x9F is exactly cp1252, so the decode IS strict cp1252),
  clear means UTF-16LE at ``fc``;
* only the MAIN DOCUMENT range (first ``ccpText`` CPs, FIB 0x004C) is
  extracted — footnotes/headers/annotations live past it;
* control characters normalize per their spec meaning: CR / cell-and-
  row mark (0x07) / vertical tab / page break → newline (or the cell
  mark's tab, see ``_normalize``), field begin 0x13 starts skipping the
  field INSTRUCTION (" HYPERLINK http://…" is not document text), field
  separator 0x14 resumes for the field RESULT, field end 0x15 closes;
  the inline picture/OLE anchor 0x01 and remaining C0 controls drop.

Everything else in the format — styles, tables' grid, OLE objects,
embedded images, fastsaved revision complexity beyond what the piece
table already encodes — is out of scope for a text pipeline; malformed
structures refuse with byte offsets rather than guessing. ``.xls``
(BIFF8 and BIFF5/7, r15) and ``.ppt`` (single-edit record walks) extract through their
own modules (``xls_text.py`` / ``ppt_text.py``, r14); only generic OLE
storages remain refused by name here, and the media census surveys
every compound file as family="document" with its subformat.

Scale posture: one payload per task inside ``mapInPandas``
(``doc_text_frame``, the office_text.py shape); payloads never shuffle;
parse work is linear in the piece table + text bytes.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``office_text.py``/``rtf_text.py``/``pdf_text.py``.
"""

from __future__ import annotations

import struct

from attic.operators.cfb import CfbFile, cfb_subformat, looks_like_cfb, parse_cfb

# nFib values whose FIB shares the Word-97 FibRgFcLcb97 prefix (MS-DOC
# §2.5.1: 0x00C1 Word 97 .. 0x0112 Word 2007's compat value)
_KNOWN_NFIB = {0x00C1, 0x00D9, 0x0101, 0x010C, 0x0112}

_FC_CLX_AT = 0x01A2
_LCB_CLX_AT = 0x01A6
_CCP_TEXT_AT = 0x004C


def looks_like_doc(payload: bytes) -> bool:
    """Cheap container sniff only — the census confirms the subformat
    from the directory stream names."""
    return looks_like_cfb(payload)


def _read_fib(wd: bytes, origin: str) -> dict:
    if len(wd) < _LCB_CLX_AT + 4:
        raise ValueError(
            f"doc {origin}: WordDocument stream of {len(wd)} bytes is "
            "shorter than the FIB"
        )
    (ident,) = struct.unpack_from("<H", wd, 0)
    if ident != 0xA5EC:
        raise ValueError(
            f"doc {origin}: FIB wIdent {ident:#06x} is not 0xA5EC"
        )
    (nfib,) = struct.unpack_from("<H", wd, 2)
    (flags,) = struct.unpack_from("<H", wd, 10)
    encrypted = bool(flags & 0x0100)
    which_tbl = 1 if flags & 0x0200 else 0
    if encrypted:
        raise NotImplementedError(
            f"doc {origin}: encrypted document (fEncrypted — XOR "
            "obfuscation or RC4) not implemented; decrypt upstream"
        )
    if nfib not in _KNOWN_NFIB:
        raise NotImplementedError(
            f"doc {origin}: FIB version nFib {nfib:#06x} not implemented "
            "(Word 97-2003 family only — Word 95 and earlier lay the FIB "
            "out differently)"
        )
    (ccp_text,) = struct.unpack_from("<i", wd, _CCP_TEXT_AT)
    (fc_clx,) = struct.unpack_from("<I", wd, _FC_CLX_AT)
    (lcb_clx,) = struct.unpack_from("<I", wd, _LCB_CLX_AT)
    if ccp_text < 0:
        raise ValueError(f"doc {origin}: negative ccpText {ccp_text}")
    return {
        "nfib": nfib,
        "which_tbl": which_tbl,
        "ccp_text": ccp_text,
        "fc_clx": fc_clx,
        "lcb_clx": lcb_clx,
    }


def _read_piece_table(table: bytes, fc: int, lcb: int, origin: str) -> list:
    """Clx → list of (cp_start, cp_end, fc, one_byte) pieces."""
    if lcb == 0:
        raise ValueError(f"doc {origin}: empty Clx (lcbClx 0)")
    if fc + lcb > len(table):
        raise ValueError(
            f"doc {origin}: Clx at {fc}+{lcb} overruns the "
            f"{len(table)}-byte table stream"
        )
    pos = fc
    end = fc + lcb
    # Prc blocks: clxt 0x01, cbGrpprl (int16), data — property
    # modifiers; they carry no text and are skipped
    while pos < end and table[pos] == 0x01:
        if pos + 3 > end:
            raise ValueError(
                f"doc {origin}: truncated Prc header at table byte {pos}"
            )
        (cb,) = struct.unpack_from("<h", table, pos + 1)
        if cb < 0 or pos + 3 + cb > end:
            raise ValueError(
                f"doc {origin}: Prc of {cb} bytes at table byte {pos} "
                "overruns the Clx"
            )
        pos += 3 + cb
    if pos >= end or table[pos] != 0x02:
        got = table[pos] if pos < end else None
        raise ValueError(
            f"doc {origin}: expected the Pcdt (clxt 0x02) at table byte "
            f"{pos}, got {got!r}"
        )
    if pos + 5 > end:
        raise ValueError(
            f"doc {origin}: Clx ends inside the Pcdt header at table "
            f"byte {pos} (need 5 bytes, have {end - pos})"
        )
    (plc_len,) = struct.unpack_from("<I", table, pos + 1)
    pos += 5
    if pos + plc_len > end:
        raise ValueError(
            f"doc {origin}: PlcPcd of {plc_len} bytes at table byte "
            f"{pos} overruns the Clx"
        )
    # PlcPcd: (n+1) 4-byte CPs + n 8-byte PCDs → lcb = 12n + 4
    if plc_len < 4 or (plc_len - 4) % 12:
        raise ValueError(
            f"doc {origin}: PlcPcd length {plc_len} is not 12n+4"
        )
    n = (plc_len - 4) // 12
    if n == 0:
        raise ValueError(f"doc {origin}: piece table holds no pieces")
    cps = struct.unpack_from(f"<{n + 1}i", table, pos)
    pieces = []
    pcd_at = pos + 4 * (n + 1)
    for i in range(n):
        if cps[i + 1] <= cps[i] or cps[i] < 0:
            raise ValueError(
                f"doc {origin}: piece {i} CP range [{cps[i]}, "
                f"{cps[i + 1]}) is not ascending"
            )
        (fc_raw,) = struct.unpack_from("<I", table, pcd_at + 8 * i + 2)
        one_byte = bool(fc_raw & 0x40000000)
        off = fc_raw & 0x3FFFFFFF
        if one_byte:
            off //= 2
        pieces.append((cps[i], cps[i + 1], off, one_byte))
    return pieces


def _piece_text(
    wd: bytes, off: int, n_chars: int, one_byte: bool, idx: int, origin: str
) -> str:
    nbytes = n_chars if one_byte else 2 * n_chars
    if off + nbytes > len(wd):
        raise ValueError(
            f"doc {origin}: piece {idx} text at {off}+{nbytes} overruns "
            f"the {len(wd)}-byte WordDocument stream"
        )
    raw = wd[off : off + nbytes]
    if one_byte:
        # MS-DOC's one-byte mapping table (0x82→U+201A … 0x9F→U+0178)
        # is exactly cp1252; the bytes cp1252 leaves undefined
        # (0x81/0x8D/0x8E/0x8F/0x90/0x9D) are invalid here too, so the
        # STRICT decode is the spec
        try:
            return raw.decode("cp1252", errors="strict")
        except UnicodeDecodeError as exc:
            raise ValueError(
                f"doc {origin}: piece {idx} byte {exc.object[exc.start]:#x}"
                f" at piece offset {exc.start} is not a valid one-byte "
                "character"
            ) from exc
    return raw.decode("utf-16-le")


def _normalize(chars: str) -> str:
    """Spec control characters → pipeline text. Field instructions
    (between 0x13 and 0x14) drop; field results (0x14..0x15) stay."""
    out = []
    in_instruction = 0
    for ch in chars:
        o = ord(ch)
        if o == 0x13:  # field begin: instruction text follows
            in_instruction += 1
            continue
        if o == 0x14:  # field separator: result text follows
            if in_instruction:
                in_instruction -= 1
            continue
        if o == 0x15:  # field end
            # a field without a separator ends its instruction here
            if in_instruction:
                in_instruction -= 1
            continue
        if in_instruction:
            continue
        if o in (0x0D, 0x0B, 0x0C):  # CR, vertical tab, page break
            out.append("\n")
        elif o == 0x07:  # table cell mark AND row mark
            out.append("\t")
        elif o == 0x1E:  # non-breaking hyphen
            out.append("-")
        elif o in (0x1F, 0x01, 0x02, 0x05, 0x08):  # soft hyphen, anchors
            continue
        elif o < 0x20 and o != 0x09 and o != 0x0A:
            continue  # remaining C0 controls carry no text
        else:
            out.append(ch)
    return "".join(out)


def doc_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """Main-document text of a binary Word file (see module docstring
    for the exact subset)."""
    cfb = parse_cfb(payload, origin)
    return _doc_text_from_cfb(cfb, origin)


def _doc_text_from_cfb(cfb: CfbFile, origin: str) -> str:
    sub = cfb_subformat(cfb)
    if sub == "xls":
        raise ValueError(
            f"doc {origin}: compound file is an .xls workbook — route it "
            "to xls_text.xls_to_text (the census does)"
        )
    if sub == "ppt":
        raise ValueError(
            f"doc {origin}: compound file is a .ppt presentation — route "
            "it to ppt_text.ppt_to_text (the census does)"
        )
    if sub == "msg":
        raise ValueError(
            f"doc {origin}: compound file is an Outlook .msg — route it "
            "to msg_text.msg_to_text (the census does)"
        )
    if sub == "ooxml-enc":
        # ECMA-376-encrypted OOXML riding the CFB wrapper (r16):
        # decrypt with the default password, then extract as the inner
        # zip format
        text, _kind = _ooxml_enc_text(cfb, origin)
        return text
    if sub != "doc":
        raise NotImplementedError(
            f"doc {origin}: compound file is a generic OLE storage "
            f"({sub!r}) — no text layout to extract; .doc/.xls/.ppt/.msg "
            "extract through their own modules"
        )
    wd = cfb.read_stream("WordDocument")
    fib = _read_fib(wd, origin)
    tbl_name = "1Table" if fib["which_tbl"] else "0Table"
    try:
        table = cfb.read_stream(tbl_name)
    except ValueError as exc:
        raise ValueError(
            f"doc {origin}: FIB selects the {tbl_name} stream but the "
            f"container lacks it: {exc}"
        ) from exc
    pieces = _read_piece_table(
        table, fib["fc_clx"], fib["lcb_clx"], origin
    )
    remaining = fib["ccp_text"]
    parts = []
    for i, (cp0, cp1, off, one_byte) in enumerate(pieces):
        if remaining <= 0:
            break
        take = min(cp1 - cp0, remaining)
        parts.append(_piece_text(wd, off, take, one_byte, i, origin))
        remaining -= take
    if remaining > 0:
        raise ValueError(
            f"doc {origin}: piece table covers {fib['ccp_text'] - remaining}"
            f" of the declared {fib['ccp_text']} main-document characters"
        )
    return _normalize("".join(parts))


def _ooxml_enc_text(cfb: CfbFile, origin: str) -> tuple:
    """Decrypted encrypted-OOXML wrapper → (text, inner kind)."""
    from attic.operators.office_text import (
        docx_to_text,
        pptx_to_text,
        sniff_office,
        xlsx_to_text,
    )
    from attic.operators.ooxml_crypto import decrypt_ooxml_cfb

    plain = decrypt_ooxml_cfb(cfb, origin)
    kind = sniff_office(plain, origin)
    extract = {
        "docx": docx_to_text, "xlsx": xlsx_to_text, "pptx": pptx_to_text,
    }.get(kind or "")
    if extract is None:
        raise ValueError(
            f"doc {origin}: decrypted OOXML package is not a "
            f"docx/xlsx/pptx (sniffed {kind!r}) — wrong key would have "
            "refused earlier, so the package member layout is unexpected"
        )
    return extract(plain, origin), kind


def doc_meta(payload: bytes, origin: str = "<bytes>") -> dict:
    """Census facts for a compound file: subformat, stream count, and —
    for the subformats that extract (doc, and xls via ``xls_text``) —
    the extracted character count."""
    cfb = parse_cfb(payload, origin)
    sub = cfb_subformat(cfb)
    n_streams = sum(1 for e in cfb.entries if e.type == 2)
    row = {"subformat": sub, "n_streams": n_streams, "n_chars": 0}
    if sub == "doc":
        row["n_chars"] = len(_doc_text_from_cfb(cfb, origin))
    elif sub == "xls":
        from attic.operators.xls_text import _extract as _xls_extract

        row["n_chars"] = len(_xls_extract(cfb, origin)[0])
    elif sub == "ppt":
        from attic.operators.ppt_text import _extract as _ppt_extract

        row["n_chars"] = len(_ppt_extract(cfb, origin)[2])
    elif sub == "msg":
        from attic.operators.msg_text import _extract as _msg_extract

        text, n_recips, n_attach = _msg_extract(cfb, origin)
        row["n_chars"] = len(text)
        row["n_recipients"] = n_recips
        row["n_attachments"] = n_attach
    elif sub == "ooxml-enc":
        text, kind = _ooxml_enc_text(cfb, origin)
        row["n_chars"] = len(text)
        row["inner"] = kind
    return row


# --------------------------------------------------------------- writer


def write_doc(paragraphs: list) -> bytes:
    """Deterministic minimal Word-97 ``.doc`` from a paragraph list —
    the production writer closing the round trip
    (``doc_to_text(write_doc(ps)) == "\\n".join(ps) + "\\n"``; pinned by
    test and exercised by the corpus demo's census arm). One text
    piece: cp1252 (the compressed form) when every character fits,
    UTF-16LE otherwise; paragraphs end with the spec's CR mark. Control
    characters in the input would collide with the spec's in-band marks
    and refuse."""
    from attic.operators.cfb import write_cfb

    for p in paragraphs:
        for ch in p:
            if ord(ch) < 0x20 and ch != "\t":
                raise ValueError(
                    f"doc write: control character {ord(ch):#x} in "
                    "paragraph text collides with the format's in-band "
                    "marks"
                )
    # Word's floor: a document always carries at least its final
    # paragraph mark (ccpText >= 1) — an empty input writes that minimal
    # document rather than a zero-CP piece table no reader accepts
    chars = "".join(p + "\r" for p in paragraphs) or "\r"
    try:
        body = chars.encode("cp1252")
        one_byte = True
        ccp = len(chars)
    except UnicodeEncodeError:
        body = chars.encode("utf-16-le")
        one_byte = False
        # CPs count 16-bit code UNITS (Word's UCS-2 heritage): an astral
        # character is TWO CPs, so counting Python characters here would
        # silently truncate the document tail
        ccp = len(body) // 2
    fib = bytearray(1024)
    struct.pack_into("<H", fib, 0, 0xA5EC)
    struct.pack_into("<H", fib, 2, 0x00C1)
    struct.pack_into("<H", fib, 10, 0x0200)  # 1Table
    struct.pack_into("<i", fib, _CCP_TEXT_AT, ccp)
    off = len(fib)
    fc_raw = (0x40000000 | (off * 2)) if one_byte else off
    cps = struct.pack("<ii", 0, ccp)
    pcd = struct.pack("<HIH", 0, fc_raw, 0)
    plc = cps + pcd
    clx = b"\x02" + struct.pack("<I", len(plc)) + plc
    struct.pack_into("<I", fib, _FC_CLX_AT, 0)
    struct.pack_into("<I", fib, _LCB_CLX_AT, len(clx))
    return write_cfb({"WordDocument": bytes(fib) + body, "1Table": clx})


DOC_TEXT_SCHEMA = "text string, n_chars long"


def doc_text_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """Spark fan-out: one text row per .doc payload via mapInPandas —
    one payload per task row, payloads never shuffle (the office_text
    shape)."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            texts = [
                doc_to_text(bytes(p), origin=f"doc_id={i}")
                for i, p in zip(pdf[id_col], pdf[payload_col])
            ]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "text": texts,
                    "n_chars": [len(t) for t in texts],
                }
            )

    return df.mapInPandas(extract, f"{id_col} long, {DOC_TEXT_SCHEMA}")
