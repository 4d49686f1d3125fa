"""DOCX/ODT/EPUB extraction over hand-built real ZIP archives."""

from __future__ import annotations

import io
import zipfile

import pytest

from attic.operators.office_text import (
    docx_to_text,
    epub_to_text,
    odt_to_text,
    office_parts,
    office_to_text,
    sniff_office,
)

_W = 'xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"'
_T = 'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0"'


def _zip(members: dict, mimetype: bytes | None = None) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        if mimetype is not None:
            # the EPUB/ODT convention: first member, stored uncompressed
            zf.writestr(
                zipfile.ZipInfo("mimetype"), mimetype,
                compress_type=zipfile.ZIP_STORED,
            )
        for name, content in members.items():
            zf.writestr(name, content)
    return buf.getvalue()


def _docx(body_xml: str) -> bytes:
    doc = f'<?xml version="1.0"?><w:document {_W}><w:body>{body_xml}</w:body></w:document>'
    return _zip({
        "[Content_Types].xml": "<Types/>",
        "word/document.xml": doc,
    })


def _para(*runs: str) -> str:
    return "<w:p>" + "".join(f"<w:r><w:t>{r}</w:t></w:r>" for r in runs) + "</w:p>"


def _odt(body_xml: str) -> bytes:
    doc = (
        f'<?xml version="1.0"?><office:document-content '
        f'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" {_T}>'
        f"<office:body><office:text>{body_xml}</office:text></office:body>"
        "</office:document-content>"
    )
    return _zip(
        {"content.xml": doc},
        mimetype=b"application/vnd.oasis.opendocument.text",
    )


def _epub(chapters: dict, spine: list) -> bytes:
    container = (
        '<?xml version="1.0"?><container '
        'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles></container>'
    )
    manifest = "".join(
        f'<item id="c{i}" href="{name}" media-type="application/xhtml+xml"/>'
        for i, name in enumerate(chapters)
    )
    order = {name: f"c{i}" for i, name in enumerate(chapters)}
    spine_xml = "".join(f'<itemref idref="{order[n]}"/>' for n in spine)
    opf = (
        '<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/opf">'
        f"<manifest>{manifest}</manifest><spine>{spine_xml}</spine></package>"
    )
    members = {"META-INF/container.xml": container, "OEBPS/content.opf": opf}
    for name, html in chapters.items():
        members[f"OEBPS/{name}"] = html
    return _zip(members, mimetype=b"application/epub+zip")


def test_docx_paragraphs_runs_tabs_breaks():
    body = (
        _para("Hello ", "world.")
        + "<w:p><w:r><w:t>a</w:t><w:tab/><w:t>b</w:t><w:br/><w:t>c</w:t></w:r></w:p>"
    )
    data = _docx(body)
    assert sniff_office(data) == "docx"
    assert docx_to_text(data) == "Hello world.\na b\nc"
    assert office_parts(data) == 2


def test_docx_table_cells_flow_in_document_order():
    body = (
        _para("before")
        + "<w:tbl><w:tr><w:tc>" + _para("cell one") + "</w:tc>"
        + "<w:tc>" + _para("cell two") + "</w:tc></w:tr></w:tbl>"
        + _para("after")
    )
    assert docx_to_text(_docx(body)) == "before\ncell one\ncell two\nafter"


def test_odt_paragraph_semantics():
    body = (
        "<text:h>Title</text:h>"
        "<text:p>a<text:tab/>b<text:line-break/>c</text:p>"
        '<text:p>x<text:s text:c="3"/>y <text:span>nested '
        "<text:span>deep</text:span></text:span> tail</text:p>"
    )
    data = _odt(body)
    assert sniff_office(data) == "odt"
    assert odt_to_text(data) == "Title\na b\nc\nx y nested deep tail"
    assert office_parts(data) == 3


def test_epub_spine_order_not_manifest_order():
    chapters = {
        "one.xhtml": "<html><body><h1>Alpha</h1><p>First chapter.</p></body></html>",
        "two.xhtml": "<html><body><p>Second &amp; final.</p></body></html>",
    }
    data = _epub(chapters, spine=["two.xhtml", "one.xhtml"])  # reversed!
    assert sniff_office(data) == "epub"
    got = epub_to_text(data)
    assert got.index("Second & final.") < got.index("Alpha")
    assert office_parts(data) == 2


def test_office_to_text_dispatch_and_refusals():
    kind, text = office_to_text(_docx(_para("x")))
    assert (kind, text) == ("docx", "x")
    plain = _zip({"data.txt": "not office"})
    assert sniff_office(plain) is None
    with pytest.raises(ValueError, match=r"none of DOCX/XLSX/PPTX/ODT/EPUB"):
        office_to_text(plain)
    with pytest.raises(ValueError, match=r"DOCTYPE"):
        docx_to_text(_zip({
            "word/document.xml":
                f'<?xml version="1.0"?><!DOCTYPE x [<!ENTITY a "b">]>'
                f"<w:document {_W}><w:body/></w:document>",
        }))
    with pytest.raises(ValueError, match=r"not well-formed"):
        docx_to_text(_zip({"word/document.xml": "<w:document"}))
    # spine naming a missing manifest item / missing member
    bad = _epub({"one.xhtml": "<p>x</p>"}, spine=["one.xhtml"])
    broken = bad.replace(b"OEBPS/one.xhtml", b"OEBPS/gone.xhtml", 1)
    with pytest.raises(ValueError):
        epub_to_text(broken)


def test_census_routes_office_and_archives():
    from attic.operators.media_census import classify_media

    r = classify_media(_docx(_para("a") + _para("b")))
    assert (r["family"], r["format"], r["n_frames"]) == ("document", "docx", 2)
    r = classify_media(_epub({"c.xhtml": "<p>z</p>"}, ["c.xhtml"]))
    assert (r["family"], r["format"], r["n_frames"]) == ("document", "epub", 1)
    r = classify_media(_zip({"a.txt": "x", "b/c.bin": "y"}))
    assert (r["family"], r["format"], r["n_frames"]) == ("archive", "zip", 2)
    # a corrupt PK payload folds into an error row, never a crash
    r = classify_media(b"PK\x03\x04garbage")
    assert r["family"] in ("archive", "error")


def test_office_text_frame(spark):
    from attic.operators.office_text import office_text_frame

    df = spark.createDataFrame(
        [
            (1, _docx(_para("spark docx"))),
            (2, _odt("<text:p>spark odt</text:p>")),
            (3, _epub({"a.xhtml": "<p>spark epub</p>"}, ["a.xhtml"])),
        ],
        "doc_id long, payload binary",
    )
    rows = {r.doc_id: (r.kind, r.text) for r in office_text_frame(df).collect()}
    assert rows == {
        1: ("docx", "spark docx"),
        2: ("odt", "spark odt"),
        3: ("epub", "spark epub"),
    }


def test_review_findings_census_safety_and_guards():
    """Second-pass review regressions: zero-byte signature members,
    full-document + UTF-16 DOCTYPE scan, bounded text:s, percent-encoded
    EPUB hrefs, text-box dedup, bomb-sized mimetype."""
    from attic.operators.media_census import classify_media

    # zero-byte word/document.xml: ValueError (census-foldable), no KeyError
    z = _zip({"word/document.xml": b""})
    with pytest.raises(ValueError, match=r"not well-formed"):
        docx_to_text(z)
    assert classify_media(z)["family"] == "error"
    # DOCTYPE beyond 4 KiB of prolog comment still refuses
    pad = "<!-- " + "x" * 5000 + " -->"
    doc = (f'<?xml version="1.0"?>{pad}<!DOCTYPE r [<!ENTITY a "b">]>'
           f"<w:document {_W}><w:body/></w:document>")
    with pytest.raises(ValueError, match=r"DOCTYPE"):
        docx_to_text(_zip({"word/document.xml": doc}))
    # UTF-16 spelling refuses too
    doc16 = ('<?xml version="1.0" encoding="utf-16"?><!DOCTYPE r [<!ENTITY '
             f'a "b">]><w:document {_W}><w:body/></w:document>'
             ).encode("utf-16-le")
    with pytest.raises(ValueError, match=r"DOCTYPE"):
        docx_to_text(_zip({"word/document.xml": doc16}))
    # text:s run length is attacker data: bounded and integer-validated
    with pytest.raises(ValueError, match=r"outside 0\.\."):
        odt_to_text(_odt('<text:p><text:s text:c="999999999"/></text:p>'))
    with pytest.raises(ValueError, match=r"not an integer"):
        odt_to_text(_odt('<text:p><text:s text:c="zz"/></text:p>'))


def test_epub_percent_encoded_hrefs_resolve():
    chapters = {"my ch.xhtml": "<p>spaced name</p>"}
    data = _epub(chapters, spine=["my ch.xhtml"])
    # the OPF must reference the member through its IRI form
    data = data.replace(b'href="my ch.xhtml"', b'href="my%20ch.xhtml"')
    assert epub_to_text(data) == "spaced name"


def test_docx_textbox_extracts_once():
    body = (
        "<w:p><w:r><w:t>outer </w:t>"
        "<w:pict><w:txbxContent>" + _para("boxed") + "</w:txbxContent></w:pict>"
        "</w:r></w:p>"
    )
    data = _docx(body)
    assert docx_to_text(data) == "outer boxed"
    assert office_parts(data) == 1  # the nested w:p is not its own part


def test_oversized_mimetype_is_not_an_office_signature():
    big = _zip({"word/document.xml": "<x/>"}, mimetype=b"A" * 4096)
    # mimetype > 1 KiB: not a plausible signature; sniff refuses to read it
    assert sniff_office(big) is None


def test_odt_nesting_depth_guard():
    """ADVICE r12: thousands of nested text:span elements must raise the
    loud ValueError, not RecursionError (pdf_text.py lexer discipline)."""
    deep = "<text:p>" + "<text:span>" * 2000 + "x" + "</text:span>" * 2000 + "</text:p>"
    with pytest.raises(ValueError, match=r"nesting exceeds 128 levels"):
        odt_to_text(_odt(deep))
    # 100 levels is legitimate nesting and still extracts
    ok = "<text:p>" + "<text:span>" * 100 + "deep" + "</text:span>" * 100 + "</text:p>"
    assert odt_to_text(_odt(ok)) == "deep"


# ------------------------------------------------------------- xlsx / pptx

_SML = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
_PML = 'xmlns:p="http://schemas.openxmlformats.org/presentationml/2006/main"'
_A = 'xmlns:a="http://schemas.openxmlformats.org/drawingml/2006/main"'
_R = 'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"'
_RELS = 'xmlns="http://schemas.openxmlformats.org/package/2006/relationships"'
_NOTES_TYPE = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/"
    "notesSlide"
)


def _rels(entries: list, extra: str = "") -> str:
    rows = "".join(
        f'<Relationship Id="{rid}" Type="{rtype}" Target="{target}"{attrs}/>'
        for rid, rtype, target, attrs in entries
    )
    return f'<?xml version="1.0"?><Relationships {_RELS}>{rows}{extra}</Relationships>'


def _xlsx(sheets: list, shared: list | None = None, extra_members: dict | None = None) -> bytes:
    """sheets = [(name, sheet_xml_body)] — body is the <sheetData> inner XML."""
    sheet_decls = "".join(
        f'<sheet name="{name}" sheetId="{i + 1}" r:id="rId{i + 1}"/>'
        for i, (name, _) in enumerate(sheets)
    )
    wb = (
        f'<?xml version="1.0"?><workbook {_SML} {_R}>'
        f"<sheets>{sheet_decls}</sheets></workbook>"
    )
    rel_entries = [
        (f"rId{i + 1}",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
         f"worksheets/sheet{i + 1}.xml", "")
        for i in range(len(sheets))
    ]
    members = {
        "[Content_Types].xml": "<Types/>",
        "xl/workbook.xml": wb,
        "xl/_rels/workbook.xml.rels": _rels(rel_entries),
    }
    for i, (_, body) in enumerate(sheets):
        members[f"xl/worksheets/sheet{i + 1}.xml"] = (
            f'<?xml version="1.0"?><worksheet {_SML}>'
            f"<sheetData>{body}</sheetData></worksheet>"
        )
    if shared is not None:
        sis = "".join(f"<si>{si}</si>" for si in shared)
        members["xl/sharedStrings.xml"] = (
            f'<?xml version="1.0"?><sst {_SML} count="{len(shared)}" '
            f'uniqueCount="{len(shared)}">{sis}</sst>'
        )
    if extra_members:
        members.update(extra_members)
    return _zip(members)


def _slide_xml(*paras: str) -> str:
    body = "".join(
        f"<a:p><a:r><a:t>{p}</a:t></a:r></a:p>" for p in paras
    )
    return (
        f'<?xml version="1.0"?><p:sld {_PML} {_A}><p:cSld><p:spTree>'
        f"<p:sp><p:txBody>{body}</p:txBody></p:sp>"
        "</p:spTree></p:cSld></p:sld>"
    )


def _pptx(slides: list, notes: dict | None = None) -> bytes:
    """slides = [slide_xml]; notes = {slide_index: notes_xml}."""
    sld_ids = "".join(
        f'<p:sldId id="{256 + i}" r:id="rId{i + 1}"/>'
        for i in range(len(slides))
    )
    pres = (
        f'<?xml version="1.0"?><p:presentation {_PML} {_R}>'
        f"<p:sldIdLst>{sld_ids}</p:sldIdLst></p:presentation>"
    )
    rel_entries = [
        (f"rId{i + 1}",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/slide",
         f"slides/slide{i + 1}.xml", "")
        for i in range(len(slides))
    ]
    members = {
        "[Content_Types].xml": "<Types/>",
        "ppt/presentation.xml": pres,
        "ppt/_rels/presentation.xml.rels": _rels(rel_entries),
    }
    for i, xml in enumerate(slides):
        members[f"ppt/slides/slide{i + 1}.xml"] = xml
        if notes and i in notes:
            members[f"ppt/slides/_rels/slide{i + 1}.xml.rels"] = _rels([
                ("rId9", _NOTES_TYPE, f"../notesSlides/notesSlide{i + 1}.xml", ""),
            ])
            members[f"ppt/notesSlides/notesSlide{i + 1}.xml"] = notes[i]
    return _zip(members)


def test_xlsx_shared_inline_and_raw_cells():
    sheet1 = (
        '<row r="1"><c r="A1" t="s"><v>0</v></c>'
        '<c r="B1" t="s"><v>1</v></c></row>'
        '<row r="2"><c r="A2"><v>42.5</v></c>'
        '<c r="B2" t="inlineStr"><is><t>inline!</t></is></c>'
        '<c r="C2" t="b"><v>1</v></c></row>'
        '<row r="3"><c r="A3" t="str"><v>formula result</v></c>'
        '<c r="B3"/></row>'
        '<row r="4"/>'
    )
    data = _xlsx([("Data", sheet1)], shared=["<t>alpha</t>", "<t>beta</t>"])
    assert sniff_office(data) == "xlsx"
    kind, text = office_to_text(data)
    assert kind == "xlsx"
    assert text == "Data\nalpha beta\n42.5 inline! 1\nformula result"
    assert office_parts(data) == 1


def test_xlsx_sheet_order_follows_workbook_not_filenames():
    """Sheet tab order comes from workbook.xml resolved through the
    rels; file names are not contractual — here rId1 (first tab, named
    'Z') points at sheet2.xml and rId2 at sheet1.xml, so an
    implementation walking filename order would emit the values
    swapped."""
    data = _xlsx(
        [("Z", '<row><c t="s"><v>0</v></c></row>'),
         ("A", '<row><c t="s"><v>1</v></c></row>')],
        shared=["<t>first</t>", "<t>second</t>"],
    )
    import zipfile as _zf

    buf = io.BytesIO(data)
    members = {}
    with _zf.ZipFile(buf) as z:
        for n in z.namelist():
            members[n] = z.read(n).decode()
    # cross the targets AND the sheet bodies so tab Z still shows
    # "first" — but only if the reader follows the relationships
    members["xl/_rels/workbook.xml.rels"] = _rels([
        ("rId1",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
         "worksheets/sheet2.xml", ""),
        ("rId2",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
         "worksheets/sheet1.xml", ""),
    ])
    members["xl/worksheets/sheet1.xml"], members["xl/worksheets/sheet2.xml"] = (
        members["xl/worksheets/sheet2.xml"], members["xl/worksheets/sheet1.xml"],
    )
    kind, text = office_to_text(_zip(members))
    assert text == "Z\nfirst\n\nA\nsecond"
    assert office_parts(_zip(members)) == 2


def test_xlsx_rich_runs_and_phonetic_skipped():
    shared = [
        "<r><t>uni</t></r><r><t>code</t></r>"
        "<rPh><t>ふりがな</t></rPh>",
    ]
    data = _xlsx([("S", '<row><c t="s"><v>0</v></c></row>')], shared=shared)
    assert office_to_text(data)[1] == "S\nunicode"


def test_xlsx_shared_string_index_is_validated():
    data = _xlsx([("S", '<row><c t="s"><v>7</v></c></row>')], shared=["<t>a</t>"])
    with pytest.raises(ValueError, match=r"index 7 outside the 1-entry"):
        office_to_text(data)
    bad = _xlsx([("S", '<row><c t="s"><v>zz</v></c></row>')], shared=["<t>a</t>"])
    with pytest.raises(ValueError, match=r"not an integer"):
        office_to_text(bad)


def test_xlsx_no_shared_strings_member_is_fine():
    data = _xlsx([("N", '<row><c><v>7</v></c><c><v>8</v></c></row>')])
    assert office_to_text(data)[1] == "N\n7 8"


def test_pptx_slides_in_spine_order_with_notes():
    s1 = _slide_xml("Title slide", "subtitle")
    s2 = _slide_xml("Second")
    n2 = _slide_xml("speaker note two")
    data = _pptx([s1, s2], notes={1: n2})
    assert sniff_office(data) == "pptx"
    kind, text = office_to_text(data)
    assert kind == "pptx"
    assert text == "Title slide\nsubtitle\n\nSecond\nspeaker note two"
    assert office_parts(data) == 2


def test_pptx_line_breaks_and_empty_paragraphs():
    slide = (
        f'<?xml version="1.0"?><p:sld {_PML} {_A}><p:cSld><p:spTree><p:sp>'
        "<p:txBody><a:p><a:r><a:t>a</a:t></a:r><a:br/><a:r><a:t>b</a:t></a:r>"
        "</a:p><a:p/></p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    data = _pptx([slide])
    assert office_to_text(data)[1] == "a\nb"


def test_ooxml_rels_external_and_escape_guards():
    """External targets are dropped (their rIds refuse as unreadable);
    a target escaping the archive root is loud."""
    sheet = '<row><c><v>1</v></c></row>'
    data = _xlsx([("S", sheet)])
    # rewrite the rels: rId1 now external -> sheet names no readable rel
    import zipfile as _zf
    buf = io.BytesIO(data)
    members = {}
    with _zf.ZipFile(buf) as z:
        for n in z.namelist():
            members[n] = z.read(n).decode()
    members["xl/_rels/workbook.xml.rels"] = _rels([
        ("rId1",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
         "https://example.invalid/sheet1.xml", ' TargetMode="External"'),
    ])
    with pytest.raises(ValueError, match=r"no readable workbook relationship"):
        office_to_text(_zip(members))
    members["xl/_rels/workbook.xml.rels"] = _rels([
        ("rId1",
         "http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet",
         "../../outside.xml", ""),
    ])
    with pytest.raises(ValueError, match=r"escapes the archive root"):
        office_to_text(_zip(members))


def test_xlsx_doctype_in_shared_strings_refused():
    data = _xlsx(
        [("S", '<row><c t="s"><v>0</v></c></row>')],
        shared=["<t>x</t>"],
    )
    import zipfile as _zf
    buf = io.BytesIO(data)
    members = {}
    with _zf.ZipFile(buf) as z:
        for n in z.namelist():
            members[n] = z.read(n).decode()
    members["xl/sharedStrings.xml"] = (
        '<?xml version="1.0"?><!DOCTYPE sst [<!ENTITY a "b">]>'
        f'<sst {_SML}><si><t>&a;</t></si></sst>'
    )
    with pytest.raises(ValueError, match=r"DOCTYPE"):
        office_to_text(_zip(members))


def test_pptx_field_placeholders_skipped():
    """a:fld subtrees (slide numbers, datetimes) are per-view chrome,
    not slide content — their a:t digits never reach the corpus."""
    slide = (
        f'<?xml version="1.0"?><p:sld {_PML} {_A}><p:cSld><p:spTree><p:sp>'
        '<p:txBody><a:p><a:r><a:t>body</a:t></a:r>'
        '<a:fld id="{X}" type="slidenum"><a:t>7</a:t></a:fld>'
        "</a:p></p:txBody></p:sp></p:spTree></p:cSld></p:sld>"
    )
    assert office_to_text(_pptx([slide]))[1] == "body"
