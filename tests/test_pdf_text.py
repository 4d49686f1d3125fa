"""PDF text extraction: hand-built PDFs (classic xref tables AND xref
streams + object streams), every supported filter, font decoders incl.
ToUnicode CMaps, incremental updates, and the named refusals."""

from __future__ import annotations

import zlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from attic.operators.pdf_text import (
    PdfDocument,
    looks_like_pdf,
    pdf_meta,
    pdf_text_frame,
    pdf_to_text,
)

# ------------------------------------------------------------ PDF builder


class _Builder:
    """Test-side PDF writer: objects appended by number, classic xref
    table + trailer, deterministic offsets."""

    def __init__(self, version=b"1.4"):
        self.out = bytearray(b"%PDF-" + version + b"\n")
        self.offsets = {}

    def add(self, num: int, body: bytes) -> None:
        self.offsets[num] = len(self.out)
        self.out += b"%d 0 obj\n" % num + body + b"\nendobj\n"

    def add_stream(self, num: int, d: bytes, payload: bytes) -> None:
        body = (
            b"<< " + d + b" /Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream"
        )
        self.add(num, body)

    def finish(self, root: int, extra_trailer: bytes = b"") -> bytes:
        nmax = max(self.offsets)
        xref_at = len(self.out)
        self.out += b"xref\n0 %d\n" % (nmax + 1)
        self.out += b"0000000000 65535 f \n"
        for i in range(1, nmax + 1):
            off = self.offsets.get(i, 0)
            kind = b"n" if i in self.offsets else b"f"
            self.out += b"%010d 00000 %s \n" % (off, kind)
        self.out += (
            b"trailer\n<< /Size %d /Root %d 0 R %s>>\nstartxref\n%d\n%%%%EOF"
            % (nmax + 1, root, extra_trailer, xref_at)
        )
        return bytes(self.out)


def _simple_pdf(content: bytes, font_extra: bytes = b"",
                filters: bytes = b"", payload: bytes | None = None) -> bytes:
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(
        3,
        b"<< /Type /Page /Parent 2 0 R /Resources "
        b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>",
    )
    b.add_stream(4, filters, payload if payload is not None else content)
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
             + font_extra + b" >>")
    return b.finish(1)


def _content(*lines: bytes) -> bytes:
    body = b"BT /F1 12 Tf "
    body += b" 0 -14 Td ".join(b"(%s) Tj" % l for l in lines)
    return body + b" ET"


# ------------------------------------------------------------------ tests


def test_simple_ascii_extraction():
    data = _simple_pdf(_content(b"Hello world.", b"Second line."))
    assert looks_like_pdf(data)
    m = pdf_meta(data)
    assert (m["version"], m["n_pages"]) == ("1.4", 1)
    assert pdf_to_text(data) == "Hello world.\nSecond line."


def test_string_escapes_and_hex_strings():
    content = (
        b"BT /F1 12 Tf (paren \\( pair \\) back\\\\slash \\110i) Tj"
        b" <48454C4C4F> Tj (oct \\101\\102) Tj ET"
    )
    data = _simple_pdf(content)
    assert pdf_to_text(data) == "paren ( pair ) back\\slash HiHELLOoct AB"


def test_tj_array_kerning_becomes_word_gap():
    content = b"BT /F1 12 Tf [(Hel) 20 (lo) -250 (world)] TJ ET"
    data = _simple_pdf(content)
    assert pdf_to_text(data) == "Hello world"


def test_winansi_and_macroman_fonts():
    # cp1252 0x93/0x94 are curly quotes
    content = b"BT /F1 12 Tf (\x93quoted\x94) Tj ET"
    data = _simple_pdf(content, font_extra=b"/Encoding /WinAnsiEncoding")
    assert pdf_to_text(data) == "“quoted”"
    data = _simple_pdf(content, font_extra=b"/Encoding /MacRomanEncoding")
    assert pdf_to_text(data) == "“quoted”".replace(
        "“", b"\x93".decode("mac-roman")
    ).replace("”", b"\x94".decode("mac-roman"))


def test_tounicode_bfchar_and_bfrange():
    cmap = (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincodespacerange <0000> <FFFF> endcodespacerange\n"
        b"beginbfchar <0041> <0057> endbfchar\n"
        b"beginbfrange <0100> <0102> <0061> endbfrange\n"
        b"beginbfrange <0200> <0201> [<00480069> <0021>] endbfrange\n"
    )
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    # 2-byte codes: A→W, 0100..0102→abc, 0200→"Hi", 0201→"!"
    b.add_stream(
        4, b"", b"BT /F1 12 Tf <0041 0100 0101 0102 0200 0201> Tj ET"
    )
    b.add(5, b"<< /Type /Font /Subtype /Type0 /BaseFont /X "
             b"/ToUnicode 6 0 R >>")
    b.add_stream(6, b"", cmap)
    assert pdf_to_text(b.finish(1)) == "WabcHi!"


def test_flate_lzw_ahx_a85_rl_filters():
    import base64

    text = _content(b"filtered payload")
    # Flate
    data = _simple_pdf(
        text, filters=b"/Filter /FlateDecode", payload=zlib.compress(text)
    )
    assert pdf_to_text(data) == "filtered payload"
    # LZW: PDF shares the TIFF coding — reuse the independent test encoder
    from tests.test_tiff import _lzw_encode_msb

    data = _simple_pdf(
        text, filters=b"/Filter /LZWDecode", payload=_lzw_encode_msb(text)
    )
    assert pdf_to_text(data) == "filtered payload"
    # ASCIIHex
    data = _simple_pdf(
        text, filters=b"/Filter /ASCIIHexDecode",
        payload=text.hex().encode() + b">",
    )
    assert pdf_to_text(data) == "filtered payload"
    # ASCII85
    data = _simple_pdf(
        text, filters=b"/Filter /ASCII85Decode",
        payload=base64.a85encode(text) + b"~>",
    )
    assert pdf_to_text(data) == "filtered payload"
    # RunLength: literal run + EOD
    rl = bytearray()
    for i in range(0, len(text), 120):
        chunk = text[i : i + 120]
        rl += bytes([len(chunk) - 1]) + chunk
    rl.append(128)
    data = _simple_pdf(
        text, filters=b"/Filter /RunLengthDecode", payload=bytes(rl)
    )
    assert pdf_to_text(data) == "filtered payload"
    # filter CHAIN: A85 over Flate
    data = _simple_pdf(
        text, filters=b"/Filter [/ASCII85Decode /FlateDecode]",
        payload=base64.a85encode(zlib.compress(text)) + b"~>",
    )
    assert pdf_to_text(data) == "filtered payload"


def test_multipage_and_nested_pages_tree():
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R 6 0 R] /Count 3 >>")
    b.add(3, b"<< /Type /Pages /Parent 2 0 R /Kids [7 0 R 8 0 R] /Count 2 "
             b"/Resources << /Font << /F1 5 0 R >> >> >>")
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    b.add(6, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> >> /Contents 11 0 R >>")
    b.add(7, b"<< /Type /Page /Parent 3 0 R /Contents 9 0 R >>")
    b.add(8, b"<< /Type /Page /Parent 3 0 R /Contents 10 0 R >>")
    b.add_stream(9, b"", _content(b"page one"))
    b.add_stream(10, b"", _content(b"page two"))
    b.add_stream(11, b"", _content(b"page three"))
    data = b.finish(1)
    assert pdf_meta(data)["n_pages"] == 3
    # pages 1-2 INHERIT /Resources from their /Pages parent
    assert pdf_to_text(data) == "page one\n\npage two\n\npage three"


def test_xref_stream_and_object_stream():
    """Modern layout: catalog/pages/page/font packed into an ObjStm, the
    xref a /Type/XRef stream with /Predictor 12 + /W [1 2 1]."""
    # object stream payload: four objects
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Resources "
            b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>"),
        (5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"),
    ]
    header = b""
    body = b""
    for num, ob in objs:
        header += b"%d %d " % (num, len(body))
        body += ob + b" "
    objstm_payload = header + body
    first = len(header)

    out = bytearray(b"%PDF-1.5\n")
    offsets = {}

    def add_stream(num, d, payload):
        offsets[num] = len(out)
        out.extend(
            b"%d 0 obj\n<< " % num + d
            + b" /Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream\nendobj\n"
        )

    add_stream(4, b"", _content(b"compressed object streams"))
    add_stream(
        6, b"/Type /ObjStm /N %d /First %d" % (len(objs), first),
        objstm_payload,
    )
    xref_at = len(out)
    # entries 0..7: free, objstm idx, objstm idx, objstm idx, offset(4),
    # objstm idx, offset(6), offset(7=this xref stream)
    rows = [
        (0, 0, 0),
        (2, 6, 0),  # obj 1 in stream 6, idx 0
        (2, 6, 1),
        (2, 6, 2),
        (1, offsets[4], 0),
        (2, 6, 3),
        (1, offsets[6], 0),
        (1, xref_at, 0),
    ]
    rec = bytes()
    raw = b"".join(
        bytes([t]) + a.to_bytes(2, "big") + bytes([c]) for t, a, c in rows
    )
    # PNG predictor 12 (Up): tag byte 2 per row over 4-byte columns
    cols = 4
    pred = bytearray()
    prev = bytes(cols)
    for i in range(0, len(raw), cols):
        row = raw[i : i + cols]
        pred.append(2)
        pred.extend((row[j] - prev[j]) & 0xFF for j in range(cols))
        prev = row
    payload = zlib.compress(bytes(pred))
    add_stream(
        7,
        b"/Type /XRef /Size 8 /W [1 2 1] /Root 1 0 R "
        b"/Filter /FlateDecode "
        b"/DecodeParms << /Predictor 12 /Columns 4 >>",
        payload,
    )
    out.extend(b"startxref\n%d\n%%%%EOF" % xref_at)
    data = bytes(out)
    del rec
    assert pdf_meta(data) == {"version": "1.5", "n_pages": 1, "n_objects": 7}
    assert pdf_to_text(data) == "compressed object streams"


def test_incremental_update_prev_chain():
    """An appended revision overrides page 1's content; /Prev links back
    to the original xref, whose untouched objects stay reachable."""
    base = _simple_pdf(_content(b"ORIGINAL"))
    first_xref = base.rindex(b"\nxref\n") + 1
    out = bytearray(base)
    new_content = _content(b"REVISED")
    off4 = len(out)
    out.extend(
        b"\n4 0 obj\n<<  /Length %d >>\nstream\n" % len(new_content)
        + new_content + b"\nendstream\nendobj\n"
    )
    xref_at = len(out)
    out.extend(b"xref\n4 1\n%010d 00000 n \n" % off4)
    out.extend(
        b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF"
        % (first_xref, xref_at)
    )
    assert pdf_to_text(bytes(out)) == "REVISED"
    assert pdf_to_text(base) == "ORIGINAL"


def test_refusals_by_name():
    with pytest.raises(NotImplementedError, match=r"CID-keyed \(Type0\)"):
        b = _Builder()
        b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
        b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
        b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
                 b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
        b.add_stream(4, b"", _content(b"x"))
        b.add(5, b"<< /Type /Font /Subtype /Type0 /BaseFont /X >>")
        pdf_to_text(b.finish(1))
    with pytest.raises(NotImplementedError, match=r"filter /DCTDecode"):
        pdf_to_text(_simple_pdf(
            _content(b"x"), filters=b"/Filter /DCTDecode"
        ))
    with pytest.raises(NotImplementedError, match=r"/Differences"):
        pdf_to_text(_simple_pdf(
            _content(b"x"),
            font_extra=b"/Encoding << /Differences [65 /zebra] >>",
        ))


def test_corruption_is_loud():
    good = _simple_pdf(_content(b"x"))
    with pytest.raises(ValueError, match=r"not a PDF"):
        pdf_meta(b"plain text")
    with pytest.raises(ValueError, match=r"no startxref"):
        pdf_meta(good[: good.rindex(b"startxref")])
    # stream /Length overrunning the file (declared directly so every
    # xref offset stays coherent — splicing text shifts offsets)
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.add(4, b"<<  /Length 99999 >>\nstream\nBT ET\nendstream")
    with pytest.raises(ValueError, match=r"overruns the file"):
        pdf_to_text(b.finish(1))
    # xref /Prev loop
    first_xref = good.rindex(b"\nxref\n") + 1
    looped = good.replace(
        b"/Root 1 0 R ", b"/Root 1 0 R /Prev %d " % first_xref
    )
    with pytest.raises(ValueError, match=r"loops back"):
        pdf_meta(looped)


def test_pdf_text_frame_and_census(spark):
    from attic.operators.media_census import classify_media

    p1 = _simple_pdf(_content(b"spark one"))
    p2 = _simple_pdf(_content(b"spark two", b"line two"))
    df = spark.createDataFrame(
        [(1, p1), (2, p2)], "doc_id long, payload binary"
    )
    rows = {r.doc_id: (r.n_pages, r.text) for r in pdf_text_frame(df).collect()}
    assert rows == {
        1: (1, "spark one"),
        2: (1, "spark two\nline two"),
    }
    c = classify_media(p2)
    assert (c["family"], c["format"], c["n_frames"]) == ("document", "pdf", 1)
    assert c["detail"] == "pdf-1.4"
    # corrupt PDFs fold into census error rows, never kill the task
    bad = classify_media(b"%PDF-1.4\nbroken")
    assert bad["family"] == "error" and "startxref" in bad["detail"]


def test_hybrid_xrefstm_takes_precedence_over_free_tombstones():
    """ISO 32000 7.5.8.4 hybrid layout: objects living in an ObjStm are
    marked FREE in the classic table and carried as type-2 entries in
    the /XRefStm stream — the stream must win over the tombstones
    (review finding: setdefault order made hybrids unreadable)."""
    objs = [
        (1, b"<< /Type /Catalog /Pages 2 0 R >>"),
        (2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>"),
        (3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>"),
    ]
    header = b""
    body = b""
    for num, ob in objs:
        header += b"%d %d " % (num, len(body))
        body += ob + b" "
    out = bytearray(b"%PDF-1.5\n")
    offsets = {}

    def add_stream(num, d, payload):
        offsets[num] = len(out)
        out.extend(
            b"%d 0 obj\n<< " % num + d
            + b" /Length %d >>\nstream\n" % len(payload)
            + payload + b"\nendstream\nendobj\n"
        )

    add_stream(4, b"", _content(b"hybrid works"))
    add_stream(
        5, b"/Type /ObjStm /N 3 /First %d" % len(header), header + body
    )
    xstm_at = len(out)
    rows = [(0, 0, 0), (2, 5, 0), (2, 5, 1), (2, 5, 2),
            (1, offsets[4], 0), (1, offsets[5], 0), (1, xstm_at, 0)]
    raw = b"".join(
        bytes([t]) + a.to_bytes(2, "big") + bytes([c]) for t, a, c in rows
    )
    add_stream(
        6, b"/Type /XRef /Size 7 /W [1 2 1] /Root 1 0 R "
           b"/Filter /FlateDecode", zlib.compress(raw),
    )
    # the CLASSIC table marks 1-3 free (they live in the ObjStm) and
    # bridges to the stream via /XRefStm
    table_at = len(out)
    out.extend(b"xref\n0 7\n")
    out.extend(b"0000000000 65535 f \n" * 4)  # 0 + objs 1-3 FREE
    for n in (4, 5):
        out.extend(b"%010d 00000 n \n" % offsets[n])
    out.extend(b"%010d 00000 n \n" % xstm_at)
    out.extend(
        b"trailer\n<< /Size 7 /Root 1 0 R /XRefStm %d >>\nstartxref\n%d"
        b"\n%%%%EOF" % (xstm_at, table_at)
    )
    assert pdf_to_text(bytes(out)) == "hybrid works"


def test_census_safe_error_types():
    """Review findings: crafted structures must raise ValueError (the
    census fold), never TypeError/RecursionError/IndexError."""
    from attic.operators.media_census import classify_media

    out = bytearray(b"%PDF-1.5\n")
    # XRef stream missing /Size
    at = len(out)
    payload = zlib.compress(b"\x01\x00\x09\x00")
    out.extend(
        b"7 0 obj\n<< /Type /XRef /W [1 2 1] /Root 1 0 R "
        b"/Filter /FlateDecode /Length %d >>\nstream\n" % len(payload)
        + payload + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF" % at
    )
    with pytest.raises(ValueError, match=r"/Size"):
        pdf_meta(bytes(out))
    assert classify_media(bytes(out))["family"] == "error"
    # object stream claiming to live inside itself (xref cycle)
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [] /Count 0 >>")
    data = b.finish(1)
    doc = PdfDocument(data)
    doc.xref[9] = ("s", 9, 0)
    from attic.operators.pdf_text import _Ref

    with pytest.raises(ValueError, match=r"not a directly-stored"):
        doc.obj(_Ref(9, 0))
    # deep [[[[ nesting is a ValueError, not RecursionError
    deep = _simple_pdf(b"BT " + b"[" * 300 + b"]" * 300 + b" ET")
    with pytest.raises(ValueError, match=r"nesting deeper"):
        pdf_to_text(deep)


def test_truncated_flate_and_negative_length_are_loud():
    text = _content(b"x")
    z = zlib.compress(text)
    data = _simple_pdf(
        text, filters=b"/Filter /FlateDecode", payload=z[: len(z) - 4]
    )
    with pytest.raises(ValueError, match=r"FlateDecode stream truncated"):
        pdf_to_text(data)
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    b.add(4, b"<<  /Length -5 >>\nstream\nBT ET\nendstream")
    with pytest.raises(ValueError, match=r"/Length -5"):
        pdf_to_text(b.finish(1))
    # short /DecodeParms array must not silently drop filters
    data = _simple_pdf(
        text,
        filters=b"/Filter [/ASCII85Decode /FlateDecode] "
                b"/DecodeParms [null]",
        payload=b"~>",
    )
    with pytest.raises(ValueError, match=r"1 entries for 2 filters"):
        pdf_to_text(data)


def test_form_xobject_text_recurses():
    """Text living inside a Form XObject (the Do operator) extracts —
    generators routinely put the whole page body in a form."""
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> /XObject << /Fm1 6 0 R >> >> "
             b"/Contents 4 0 R >>")
    b.add_stream(4, b"", b"BT /F1 9 Tf (before) Tj ET /Fm1 Do "
                         b"BT /F1 9 Tf (after) Tj ET")
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    b.add_stream(
        6, b"/Type /XObject /Subtype /Form "
           b"/Resources << /Font << /F9 5 0 R >> >>",
        b"BT /F9 9 Tf (inside the form) Tj ET",
    )
    assert pdf_to_text(b.finish(1)) == "before\ninside the form\nafter"


def test_write_pdf_round_trip():
    from attic.operators.pdf_text import write_pdf

    pages = [
        "Hello world.\nLine with (parens) and \\backslash.",
        "Page two — em-dash and “curly quotes”.",
    ]
    data = write_pdf(pages)
    assert data == write_pdf(pages)  # deterministic bytes
    assert pdf_meta(data) == {"version": "1.4", "n_pages": 2, "n_objects": 7}
    assert pdf_to_text(data) == "\n\n".join(pages)
    with pytest.raises(ValueError, match=r"outside WinAnsi"):
        write_pdf(["日本語"])
    with pytest.raises(ValueError, match=r"1\+ str pages"):
        write_pdf([])


@given(st.lists(
    st.text(
        alphabet=st.characters(
            codec="cp1252", exclude_characters="\r\x85\x0c\x0b\xa0\x1c\x1d\x1e"
        ),
        max_size=200,
    ),
    min_size=1, max_size=4,
))
@settings(max_examples=30, deadline=None)
def test_write_pdf_property(pages):
    """Any cp1252-expressible text survives write→extract, modulo the
    extractor's whitespace normalization (runs of spaces collapse, line
    edges trim — the documented training-text convention)."""
    import re as _re

    from attic.operators.pdf_text import write_pdf

    def norm(t):
        t = _re.sub(r"[ \t]+", " ", t)
        t = "\n".join(ln.strip() for ln in t.split("\n"))
        return _re.sub(r"\n{2,}", "\n", t).strip()

    got = pdf_to_text(write_pdf([p or " " for p in pages]))
    want = "\n\n".join(
        n for n in (norm(p) for p in pages) if n
    )
    assert got == want


def test_more_census_safe_crafted_structures():
    """Second review round: cycles through indirect dict values, bad
    ObjStm header pairs, non-dict resources, and negative offsets all
    raise ValueError (census-foldable), never
    RecursionError/TypeError/AttributeError."""
    from attic.operators.pdf_text import _Ref

    # ObjStm whose /Length is an indirect ref INTO the same ObjStm
    out = bytearray(b"%PDF-1.5\n")
    stm_at = len(out)
    out.extend(b"5 0 obj\n<< /Type /ObjStm /N 1 /First 4 /Length 7 0 R >>"
               b"\nstream\n7 0 42 \nendstream\nendobj\n")
    xref_at = len(out)
    raw = b"".join(
        bytes([t]) + a.to_bytes(2, "big") + bytes([c])
        for t, a, c in [(0, 0, 0), (1, stm_at, 0), (2, 5, 0)]
    )
    payload = zlib.compress(raw)
    out.extend(
        b"6 0 obj\n<< /Type /XRef /Size 3 /Index [0 1 5 1 7 1] /W [1 2 1] "
        b"/Root 1 0 R /Filter /FlateDecode /Length %d >>\nstream\n"
        % len(payload) + payload
        + b"\nendstream\nendobj\nstartxref\n%d\n%%%%EOF" % xref_at
    )
    doc = PdfDocument(bytes(out))
    with pytest.raises(ValueError, match=r"circular load"):
        doc.obj(_Ref(7, 0))
    # ObjStm header pair with a non-integer offset
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [] /Count 0 >>")
    b.add_stream(5, b"/Type /ObjStm /N 1 /First 8", b"7 (bad) x")
    doc = PdfDocument(b.finish(1))
    doc.xref[7] = ("s", 5, 0)
    with pytest.raises(ValueError, match=r"header pair"):
        doc.obj(_Ref(7, 0))
    # non-dict /Resources on a page
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources [1 2] "
             b"/Contents 4 0 R >>")
    b.add_stream(4, b"", b"BT ET")
    with pytest.raises(ValueError, match=r"/Resources is not a dict"):
        pdf_to_text(b.finish(1))
    # negative classic-xref offset is loud, not a silent wrap-around read
    good = _simple_pdf(_content(b"x"))
    neg = good.replace(b"0000000009 00000 n", b"-000000009 00000 n")
    assert neg != good
    with pytest.raises(ValueError, match=r"offset -9 is negative"):
        pdf_to_text(neg)


def test_differences_encoding_extracts():
    """r13: the /Differences override table over a base encoding — the
    pdfTeX shape (every pdfTeX font carries one). Codes remap to glyph
    names resolved through the AGL core subset."""
    content = b"BT /F1 12 Tf (ab\xc8 x) Tj ET"
    diffs = (b"/Encoding << /BaseEncoding /WinAnsiEncoding "
             b"/Differences [ 97 /aacute /endash 200 /fi ] >>")
    data = _simple_pdf(content, font_extra=diffs)
    assert pdf_to_text(data) == "á–ﬁ x"
    # without BaseEncoding (pdfTeX's usual form) the rest stays ASCII
    diffs2 = b"/Encoding << /Differences [ 98 /quoteright ] >>"
    data2 = _simple_pdf(b"BT /F1 12 Tf (ab) Tj ET", font_extra=diffs2)
    assert pdf_to_text(data2) == "a’"


def test_differences_unknown_glyph_refuses_by_name():
    diffs = b"/Encoding << /Differences [ 97 /g23 ] >>"
    data = _simple_pdf(b"BT /F1 12 Tf (a) Tj ET", font_extra=diffs)
    with pytest.raises(NotImplementedError, match=r"/g23 outside the AGL"):
        pdf_to_text(data)


def test_differences_structural_errors_are_loud():
    # a name before any code
    data = _simple_pdf(
        b"BT /F1 12 Tf (a) Tj ET",
        font_extra=b"/Encoding << /Differences [ /aacute ] >>",
    )
    with pytest.raises(ValueError, match=r"before any code"):
        pdf_to_text(data)
    # code outside 0..255
    data = _simple_pdf(
        b"BT /F1 12 Tf (a) Tj ET",
        font_extra=b"/Encoding << /Differences [ 300 /aacute ] >>",
    )
    with pytest.raises(ValueError, match=r"outside\s+0..255"):
        pdf_to_text(data)
    # a run of names walking past code 255
    data = _simple_pdf(
        b"BT /F1 12 Tf (a) Tj ET",
        font_extra=b"/Encoding << /Differences [ 255 /aacute /endash ] >>",
    )
    with pytest.raises(ValueError, match=r"past code 255"):
        pdf_to_text(data)


# ---------------------------------------------------- encryption (r16)
#
# The RC4 standard-security fixtures are built by an INDEPENDENT
# test-side implementation of ISO 32000-1 §7.6.3 Algorithms 2/3/4/5
# (including Algorithm 3, which the module never implements — it only
# consumes /O), so a derivation mistake on either side fails the
# extraction loudly. The 32-byte padding constant is necessarily shared
# spec material (disclosed).

_T_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


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


def _t_pad(pw: bytes) -> bytes:
    return (pw + _T_PAD)[:32]


def _t_alg3_O(owner_pw: bytes, user_pw: bytes, r: int, n: int) -> bytes:
    import hashlib

    h = hashlib.md5(_t_pad(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            h = hashlib.md5(h[:n]).digest()
    key = h[:n]
    o = _t_rc4(key, _t_pad(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = _t_rc4(bytes(b ^ i for b in key), o)
    return o


def _t_alg2_key(user_pw: bytes, o: bytes, p: int, id0: bytes,
                r: int, n: int) -> bytes:
    import hashlib
    import struct

    h = hashlib.md5(_t_pad(user_pw) + o + struct.pack("<i", p) + id0)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _t_alg45_U(key: bytes, id0: bytes, r: int) -> bytes:
    import hashlib

    if r == 2:
        return _t_rc4(key, _T_PAD)
    u = _t_rc4(key, hashlib.md5(_T_PAD + id0).digest())
    for i in range(1, 20):
        u = _t_rc4(bytes(b ^ i for b in key), u)
    return u + b"\x00" * 16


def _t_objkey(fkey: bytes, num: int, gen: int) -> bytes:
    import hashlib
    import struct

    h = hashlib.md5(
        fkey + struct.pack("<I", num)[:3] + struct.pack("<I", gen)[:2]
    )
    return h.digest()[: min(len(fkey) + 5, 16)]


def _hexs(b: bytes) -> bytes:
    return b"<" + b.hex().encode() + b">"


def _encrypted_pdf(r: int = 3, user_pw: bytes = b"",
                   enc_extra: bytes = b"",
                   p_text: bytes | None = None) -> bytes:
    """Owner-locked PDF (owner password set, user password usually
    empty) with the content stream and an /Info title RC4-encrypted.
    ``p_text`` overrides how /P is SPELLED in the dictionary (the
    unsigned-32-bit writer variant) — key derivation uses the same
    masked bytes either way."""
    v, length = (2, 128) if r == 3 else (1, 40)
    n = length // 8
    id0 = bytes(range(16))
    p = -44
    o = _t_alg3_O(b"owner-secret", user_pw, r, n)
    fkey = _t_alg2_key(user_pw, o, p, id0, r, n)
    u = _t_alg45_U(fkey, id0, r)
    content = _content(b"Locked but readable.")
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    b.add_stream(4, b"", _t_rc4(_t_objkey(fkey, 4, 0), content))
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    lenkey = b" /Length %d" % length if v == 2 else b""
    b.add(6, b"<< /Filter /Standard /V %d /R %d%s /O " % (v, r, lenkey)
             + _hexs(o) + b" /U " + _hexs(u) + b" /P "
             + (p_text if p_text is not None else b"%d" % p)
             + enc_extra + b" >>")
    b.add(7, b"<< /Title "
             + _hexs(_t_rc4(_t_objkey(fkey, 7, 0), b"Secret title"))
             + b" >>")
    return b.finish(
        1,
        extra_trailer=b"/Encrypt 6 0 R /Info 7 0 R /ID ["
        + _hexs(id0) + b" " + _hexs(id0) + b"] ",
    )


@pytest.mark.parametrize("r", [2, 3])
def test_rc4_empty_user_password_decrypts(r):
    data = _encrypted_pdf(r=r)
    assert pdf_to_text(data) == "Locked but readable."
    m = pdf_meta(data)
    assert m["n_pages"] == 1


def test_rc4_object_level_strings_decrypt():
    from attic.operators.pdf_text import _Ref

    doc = PdfDocument(_encrypted_pdf(r=3))
    info = doc._resolve(doc.trailer["Info"])
    assert info["Title"] == b"Secret title"
    # the /Encrypt dictionary's own strings stay RAW (exempt per spec)
    enc = doc._resolve(doc.trailer["Encrypt"])
    assert len(enc["O"]) == 32 and len(enc["U"]) == 32


def test_nonempty_user_password_refuses_by_name():
    data = _encrypted_pdf(r=3, user_pw=b"hunter2")
    with pytest.raises(NotImplementedError, match="NON-EMPTY user password"):
        pdf_to_text(data)


def test_unknown_versions_and_foreign_handlers_refuse_by_name():
    data = _encrypted_pdf(r=3)
    # an unpublished V/R combination (V4/V5 decrypt since r16; V6 does
    # not exist) — replacements keep the length so xref offsets hold
    with pytest.raises(NotImplementedError, match=r"/V 6"):
        PdfDocument(data.replace(b"/V 2 /R 3", b"/V 6 /R 3"))
    with pytest.raises(NotImplementedError, match="security handler"):
        PdfDocument(data.replace(b"/Filter /Standard", b"/Filter /Standarx"))


def test_encrypted_without_id_is_loud():
    data = _encrypted_pdf(r=3)
    i = data.rindex(b"/ID [")
    j = data.index(b"]", i) + 1
    with pytest.raises(ValueError, match="without a trailer /ID"):
        PdfDocument(data[:i] + data[j:])


# ------------------------------------------- V4 / V5 encryption (r16)
#
# Fixture derivations (Algorithms 2/3/4/5, the 2.B KDF, per-object
# keys incl. the AESV2 'sAlT' extension) are test-side transcriptions;
# the AES primitive itself comes from attic/operators/aes.py, whose FIPS-197
# known-answer pins are independent of anything PDF (tests/test_aes.py).


def _t_objkey_aes(fkey: bytes, num: int, gen: int) -> bytes:
    import hashlib
    import struct

    h = hashlib.md5(fkey + struct.pack("<I", num)[:3]
                    + struct.pack("<I", gen)[:2] + b"sAlT")
    return h.digest()[: min(len(fkey) + 5, 16)]


def _t_aes_wrap(okey: bytes, num: int, data: bytes) -> bytes:
    """IV + CBC + PKCS#5, deterministic per-object IV."""
    import hashlib

    from attic.operators.aes import aes_cbc_encrypt

    iv = hashlib.md5(b"iv%d" % num).digest()
    pad = 16 - len(data) % 16
    return iv + aes_cbc_encrypt(okey, iv, data + bytes([pad]) * pad)


def _encrypted_pdf_v4(cfm: bytes = b"V2", user_pw: bytes = b"",
                      stmf: bytes = b"/StdCF", strf: bytes = b"/StdCF",
                      encrypt_metadata: bool = True) -> bytes:
    """V4/R4 crypt-filter document: RC4-128 (/V2) or AES-128 (/AESV2)."""
    id0 = bytes(range(16))
    p = -3904
    n = 16  # 128-bit
    o = _t_alg3_O(b"owner-secret", user_pw, 4, n)
    extra = b"" if encrypt_metadata else b"\xff\xff\xff\xff"
    import hashlib
    import struct as _s

    h = hashlib.md5(_t_pad(user_pw) + o + _s.pack("<i", p) + id0 + extra)
    fkey = h.digest()
    for _ in range(50):
        fkey = hashlib.md5(fkey[:n]).digest()
    fkey = fkey[:n]
    u = _t_alg45_U(fkey, id0, 4)
    content = _content(b"Filtered but readable.")
    if cfm == b"V2":
        enc_content = _t_rc4(_t_objkey(fkey, 4, 0), content)
        title = _t_rc4(_t_objkey(fkey, 7, 0), b"V4 title")
    else:
        enc_content = _t_aes_wrap(_t_objkey_aes(fkey, 4, 0), 4, content)
        title = _t_aes_wrap(_t_objkey_aes(fkey, 7, 0), 7, b"V4 title")
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    b.add_stream(4, b"", enc_content)
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    em = b"" if encrypt_metadata else b" /EncryptMetadata false"
    b.add(6, b"<< /Filter /Standard /V 4 /R 4 /Length 128"
             b" /CF << /StdCF << /CFM /" + cfm + b" /Length 16 >> >>"
             b" /StmF " + stmf + b" /StrF " + strf + em
             + b" /O " + _hexs(o) + b" /U " + _hexs(u)
             + b" /P %d >>" % p)
    b.add(7, b"<< /Title " + _hexs(title) + b" >>")
    return b.finish(
        1,
        extra_trailer=b"/Encrypt 6 0 R /Info 7 0 R /ID ["
        + _hexs(id0) + b" " + _hexs(id0) + b"] ",
    )


def _t_hash_2b(pw: bytes, salt: bytes, udata: bytes) -> bytes:
    import hashlib

    from attic.operators.aes import aes_cbc_encrypt

    k = hashlib.sha256(pw + salt + udata).digest()
    i = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = aes_cbc_encrypt(k[:16], k[16:32], k1)
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[
            sum(e[:16]) % 3
        ](e).digest()
        i += 1
        if i >= 64 and e[-1] <= i - 32:
            return k[:32]


def _encrypted_pdf_v5(r: int = 6, user_pw: bytes = b"",
                      corrupt_perms: bool = False) -> bytes:
    """V5 AES-256 document (R5 = single-SHA256, R6 = the 2.B KDF)."""
    import hashlib

    from attic.operators.aes import (
        aes_cbc_encrypt,
        aes_encrypt_block,
    )

    vsalt, ksalt = bytes(range(8)), bytes(range(8, 16))
    fkey = hashlib.sha256(b"fixture file key").digest()  # 32 bytes
    if r == 6:
        uhash = _t_hash_2b(user_pw, vsalt, b"")
        ikey = _t_hash_2b(user_pw, ksalt, b"")
    else:
        uhash = hashlib.sha256(user_pw + vsalt).digest()
        ikey = hashlib.sha256(user_pw + ksalt).digest()
    u = uhash + vsalt + ksalt
    ue = aes_cbc_encrypt(ikey, bytes(16), fkey)
    p = -3904
    perms_plain = (p & 0xFFFFFFFF).to_bytes(4, "little") \
        + b"\xff\xff\xff\xff" + b"T" + b"adb" + b"mtwo"
    if corrupt_perms:
        perms_plain = perms_plain[:9] + b"xyz" + perms_plain[12:]
    perms = aes_encrypt_block(fkey, perms_plain)
    content = _content(b"AES-256 but readable.")
    enc_content = _t_aes_wrap(fkey, 4, content)
    title = _t_aes_wrap(fkey, 7, b"V5 title")
    b = _Builder()
    b.add(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    b.add(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    b.add(3, b"<< /Type /Page /Parent 2 0 R /Resources "
             b"<< /Font << /F1 5 0 R >> >> /Contents 4 0 R >>")
    b.add_stream(4, b"", enc_content)
    b.add(5, b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    b.add(6, b"<< /Filter /Standard /V 5 /R %d /Length 256" % r
             + b" /CF << /StdCF << /CFM /AESV3 /Length 32 >> >>"
             b" /StmF /StdCF /StrF /StdCF"
             b" /O " + _hexs(bytes(48)) + b" /OE " + _hexs(bytes(32))
             + b" /U " + _hexs(u) + b" /UE " + _hexs(ue)
             + b" /Perms " + _hexs(perms) + b" /P %d >>" % p)
    b.add(7, b"<< /Title " + _hexs(title) + b" >>")
    return b.finish(
        1, extra_trailer=b"/Encrypt 6 0 R /Info 7 0 R ",
    )


@pytest.mark.parametrize("cfm", [b"V2", b"AESV2"])
def test_v4_crypt_filters_decrypt(cfm):
    data = _encrypted_pdf_v4(cfm=cfm)
    assert pdf_to_text(data) == "Filtered but readable."
    from attic.operators.pdf_text import _Ref

    doc = PdfDocument(data)
    assert doc._resolve(doc.trailer["Info"])["Title"] == b"V4 title"


def test_v4_encrypt_metadata_false_marker():
    """EncryptMetadata=false appends FFFFFFFF to the Algorithm-2 MD5
    input (step f) — both sides must agree or the U check fails."""
    data = _encrypted_pdf_v4(cfm=b"AESV2", encrypt_metadata=False)
    assert pdf_to_text(data) == "Filtered but readable."


@pytest.mark.parametrize("r", [5, 6])
def test_v5_aes256_decrypts(r):
    data = _encrypted_pdf_v5(r=r)
    assert pdf_to_text(data) == "AES-256 but readable."
    doc = PdfDocument(data)
    assert doc._resolve(doc.trailer["Info"])["Title"] == b"V5 title"


def test_v5_refusals_and_integrity():
    with pytest.raises(NotImplementedError, match="NON-EMPTY user password"):
        pdf_to_text(_encrypted_pdf_v5(r=6, user_pw=b"hunter2"))
    with pytest.raises(ValueError, match="'adb' marker"):
        pdf_to_text(_encrypted_pdf_v5(r=6, corrupt_perms=True))
    data = _encrypted_pdf_v5(r=6)
    with pytest.raises(NotImplementedError, match=r"/R 7"):
        PdfDocument(data.replace(b"/V 5 /R 6", b"/V 5 /R 7"))


def test_v4_refusals_by_name():
    # unknown crypt-filter method (same length as AESV2)
    data = _encrypted_pdf_v4(cfm=b"AESV2")
    with pytest.raises(NotImplementedError, match="/CFM /AESVX"):
        PdfDocument(data.replace(b"/CFM /AESV2", b"/CFM /AESVX"))
    # split string/stream filters
    data = _encrypted_pdf_v4(cfm=b"V2", strf=b"/Identity")
    with pytest.raises(NotImplementedError, match="split crypt filters"):
        PdfDocument(data)


def test_v4_aes_corrupt_padding_is_loud():
    data = _encrypted_pdf_v4(cfm=b"AESV2")
    doc = PdfDocument(data)
    import hashlib

    # flip a byte inside the Info title's last ciphertext block
    iv = hashlib.md5(b"iv7").digest()
    at = data.index(iv.hex().encode())
    bad = bytearray(data)
    bad[at + 40] = ord("0") if bad[at + 40] != ord("0") else ord("1")
    doc = PdfDocument(bytes(bad))
    with pytest.raises(ValueError, match="PKCS#5|AES"):
        doc._resolve(doc.trailer["Info"])


def test_tiff_predictor_2_rows_decode():
    """/Predictor 2 (TIFF horizontal differencing): per-row component
    running sums — encoded test-side by the inverse (differencing)."""
    text = _content(b"differenced rows decode")
    cols = 16
    pad = (-len(text)) % cols
    plain = text + b" " * pad
    diff = bytearray(plain)
    for row in range(0, len(diff), cols):
        for i in range(row + cols - 1, row, -1):
            diff[i] = (diff[i] - diff[i - 1]) & 0xFF
    data = _simple_pdf(
        text,
        filters=(b"/Filter /FlateDecode /DecodeParms "
                 b"<< /Predictor 2 /Columns %d >>" % cols),
        payload=zlib.compress(bytes(diff)),
    )
    assert pdf_to_text(data) == "differenced rows decode"
    # sub-byte components refuse by name
    data = _simple_pdf(
        text,
        filters=(b"/Filter /FlateDecode /DecodeParms "
                 b"<< /Predictor 2 /Columns %d /BitsPerComponent 4 >>"
                 % cols),
        payload=zlib.compress(bytes(diff)),
    )
    with pytest.raises(NotImplementedError, match="4-bit components"):
        pdf_to_text(data)


def test_unsigned_p_spelling_decrypts():
    """r16 review: several real writers serialize /P as its unsigned
    32-bit spelling (4294967252 for -44); the MD5 input bytes are
    identical, and a struct.error must never escape the refusal fold."""
    data = _encrypted_pdf(r=3, p_text=str(-44 & 0xFFFFFFFF).encode())
    assert b"/P 4294967252" in data
    assert pdf_to_text(data) == "Locked but readable."
