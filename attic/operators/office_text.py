"""DOCX / XLSX / PPTX / ODT / EPUB text extraction — the office-document
corpus leg.

Office documents and ebooks are large, high-quality text sources, and all
five formats are public: ZIP containers — read SELECTIVELY (only the
structural XML members decompress, never a book's images or fonts) with
the zipsrc guards applied per member (encryption refused, declared sizes
bounded, CRCs verified by the stdlib read) — around published XML
vocabularies —

* **DOCX** (ECMA-376 WordprocessingML): ``word/document.xml``, paragraphs
  ``w:p`` with runs ``w:r``/``w:t``, explicit ``w:tab``/``w:br``; tables
  flow in document order so their cell paragraphs extract naturally;
* **XLSX** (ECMA-376 SpreadsheetML, r13): ``xl/workbook.xml`` sheet list
  in workbook order resolved through the OPC relationship part, the
  ``xl/sharedStrings.xml`` table (rich runs concatenated, phonetic
  ``rPh`` guides skipped), then a per-sheet cell walk — shared-string
  refs (``t="s"``, index validated against the table), inline strings
  (``t="inlineStr"``), formula-result strings (``t="str"``); numeric /
  boolean / error cells emit their RAW stored ``<v>`` value — number
  FORMATTING (styles.xml numFmts) is deliberately not applied, a date is
  its serial number;
* **PPTX** (ECMA-376 PresentationML, r13): ``ppt/presentation.xml``
  slide-id list in spine order through the relationship part, each
  slide's DrawingML ``a:t`` runs per ``a:p`` paragraph in document
  order, plus the slide's speaker notes (the ``notesSlide``
  relationship) after its body;
* **ODT** (OASIS OpenDocument): ``content.xml``, paragraphs ``text:p``
  and headings ``text:h`` with ``text:span`` nesting, ``text:tab``,
  ``text:line-break``, and the run-length space element ``text:s``;
* **EPUB** (IDPF OCF/OPF): ``META-INF/container.xml`` → the OPF package,
  manifest hrefs + SPINE reading order, each XHTML chapter through the
  repo's own library-free ``html_text.html_to_text`` (which already owns
  entity/whitespace handling — XHTML's external-DTD entities make a
  strict XML parse the wrong tool there).

XML is parsed with stdlib ``xml.etree`` AFTER a loud DOCTYPE refusal —
none of these vocabularies uses one, and internal-entity declarations are
the billion-laughs vector, so a document carrying ``<!DOCTYPE`` is
treated as attacker data rather than expanded. ZIP-level hazards
(encrypted members, declared-size lies, decompression bombs) are already
refused by the shared member iterator.

``sniff_office`` classifies a ZIP payload by its members (EPUB's
``mimetype``, DOCX's ``word/document.xml``, XLSX's ``xl/workbook.xml``,
PPTX's ``ppt/presentation.xml``, ODT's OpenDocument mimetype); the media
census routes ``PK`` payloads through it — office documents survey as
family="document" with their part counts (paragraphs / sheets / slides /
spine chapters), other archives as family="archive" with member counts.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``pdf_text.py``/``html_text.py``/
``markdown_text.py``.
"""

from __future__ import annotations

import io
import posixpath
import re
import zipfile

ZIP_MAGIC = b"PK\x03\x04"

_W_NS = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_TEXT_NS = "{urn:oasis:names:tc:opendocument:xmlns:text:1.0}"
_CONTAINER_NS = "{urn:oasis:names:tc:opendocument:xmlns:container}"
_OPF_NS = "{http://www.idpf.org/2007/opf}"


def looks_like_zip(payload: bytes) -> bool:
    return payload[: len(ZIP_MAGIC)] == ZIP_MAGIC


def _open(payload: bytes, origin: str) -> zipfile.ZipFile:
    try:
        return zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(
            f"zip {origin}: not a readable ZIP archive: {exc}"
        ) from exc


def _read_member(zf: zipfile.ZipFile, name: str, origin: str,
                 required: bool = True) -> bytes | None:
    """ONE member, selectively — an office extractor must not pay a full
    decompression of every embedded image/font just to reach one XML
    part. Same guards as zipsrc's walk: encryption refused, declared
    size bounded and verified (zf.read CRC-checks)."""
    from attic.sources.zipsrc import MAX_MEMBER_BYTES

    try:
        info = zf.getinfo(name)
    except KeyError:
        if required:
            raise ValueError(
                f"office {origin}: member {name!r} missing from the archive"
            ) from None
        return None
    if info.flag_bits & 0x1:
        raise ValueError(
            f"office {origin}: member {name!r} is encrypted — refusing"
        )
    if info.file_size > MAX_MEMBER_BYTES:
        raise ValueError(
            f"office {origin}: member {name!r} declares {info.file_size} "
            f"bytes — over the {MAX_MEMBER_BYTES} member guard"
        )
    try:
        data = zf.read(info)
    except Exception as exc:
        raise ValueError(
            f"office {origin}: member {name!r} failed to extract: {exc}"
        ) from exc
    if len(data) != info.file_size:
        raise ValueError(
            f"office {origin}: member {name!r} extracted {len(data)} "
            f"bytes but declared {info.file_size}"
        )
    return data


def zip_member_count(payload: bytes, origin: str = "<bytes>") -> int:
    """Non-directory member count from the central directory only — the
    census's generic-archive row (no decompression)."""
    with _open(payload, origin) as zf:
        return sum(1 for i in zf.infolist() if not i.is_dir())


def sniff_office(payload: bytes, origin: str = "<bytes>") -> str | None:
    """'docx' | 'odt' | 'epub' | None for a ZIP payload, from the member
    directory only (the EPUB/ODT ``mimetype`` member is authoritative
    when present and read ONLY if plausibly sized — a signature member
    that deflates to gigabytes is a bomb, not a mimetype; DOCX is
    identified by its fixed document part name)."""
    if not looks_like_zip(payload):
        return None
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile:
        return None
    with zf:
        names = set(zf.namelist())
        mimetype = b""
        if "mimetype" in names:
            try:
                info = zf.getinfo("mimetype")
                if info.file_size > 1024 or info.flag_bits & 0x1:
                    return None  # not a plausible signature member
                mimetype = zf.read(info).strip()
            except (zipfile.BadZipFile, OSError, KeyError):
                return None
        if mimetype == b"application/epub+zip" or (
            not mimetype and "META-INF/container.xml" in names
        ):
            return "epub"
        if mimetype.startswith(b"application/vnd.oasis.opendocument.text"):
            return "odt"
        if "word/document.xml" in names:
            return "docx"
        if "xl/workbook.xml" in names:
            return "xlsx"
        if "ppt/presentation.xml" in names:
            return "pptx"
    return None


# the DOCTYPE refusal must see every encoding the parser would accept:
# ASCII-compatible, UTF-16LE, and UTF-16BE spellings (a guard that scans
# a byte prefix for one spelling is a guard an attacker routes around)
_DOCTYPES = (
    b"<!DOCTYPE",
    "<!DOCTYPE".encode("utf-16-le"),
    "<!DOCTYPE".encode("utf-16-be"),
)


def _parse_xml(data: bytes, origin: str, what: str):
    """stdlib etree behind the DOCTYPE refusal (entity-expansion guard:
    none of the office vocabularies declares one). The scan covers the
    WHOLE document in all three encodings etree would accept — prolog
    comments must not be able to push a DOCTYPE past the guard."""
    import xml.etree.ElementTree as ET

    if any(pat in data for pat in _DOCTYPES):
        raise ValueError(
            f"office {origin}: {what} carries a DOCTYPE declaration — "
            "refusing (internal entities are the expansion vector; the "
            "office XML vocabularies never use one)"
        )
    try:
        return ET.fromstring(data)
    except ET.ParseError as exc:
        raise ValueError(
            f"office {origin}: {what} is not well-formed XML ({exc})"
        ) from None


# ------------------------------------------------------------------- docx


def _docx_paragraph(p) -> str:
    """One w:p in document order: w:t text, w:tab → tab, w:br → newline."""
    parts: list = []
    for node in p.iter():
        tag = node.tag
        if tag == _W_NS + "t":
            parts.append(node.text or "")
        elif tag == _W_NS + "tab":
            parts.append("\t")
        elif tag in (_W_NS + "br", _W_NS + "cr"):
            parts.append("\n")
    return "".join(parts)


def _docx_top_paragraphs(root) -> list:
    """w:p elements NOT nested inside another w:p. Text boxes
    (w:txbxContent) put paragraphs inside a run of the enclosing
    paragraph — _docx_paragraph's subtree walk already pulls their text
    into that paragraph, so emitting the nested w:p as its own row would
    DUPLICATE the text (silent corpus corruption in a dedup-sensitive
    pipeline)."""
    parent = {c: p for p in root.iter() for c in p}
    out = []
    for p in root.iter(_W_NS + "p"):
        anc = parent.get(p)
        nested = False
        while anc is not None:
            if anc.tag == _W_NS + "p":
                nested = True
                break
            anc = parent.get(anc)
        if not nested:
            out.append(p)
    return out


def docx_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """word/document.xml → text, one line per top-level paragraph
    (tables flow in document order — their cell paragraphs are w:p like
    any other; text-box paragraphs extract once, inline)."""
    with _open(payload, origin) as zf:
        doc = _read_member(zf, "word/document.xml", origin)
    root = _parse_xml(doc, origin, "word/document.xml")
    paras = [_docx_paragraph(p) for p in _docx_top_paragraphs(root)]
    return _normalize("\n".join(paras))


# ----------------------------------------------------- ooxml relationships

_REL_NS = "{http://schemas.openxmlformats.org/package/2006/relationships}"
_R_ID = (
    "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}id"
)
_SML_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
_PML_NS = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
_A_NS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
_NOTES_REL = (
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships/"
    "notesSlide"
)


def _read_rels(
    zf: zipfile.ZipFile, part_path: str, origin: str, required: bool = True
) -> dict:
    """rId → (archive path, relationship type) for one OOXML part: the
    part's ``_rels/<name>.rels`` sibling (OPC §9.3), targets resolved
    against the part's directory; a leading ``/`` resolves from the
    archive root. ``TargetMode="External"`` entries are URLs, not
    members — dropped. A target escaping the archive root is attacker
    data and refuses loudly."""
    base = posixpath.dirname(part_path)
    rels_path = posixpath.join(
        base, "_rels", posixpath.basename(part_path) + ".rels"
    )
    data = _read_member(zf, rels_path, origin, required=required)
    if data is None:
        return {}
    root = _parse_xml(data, origin, rels_path)
    out = {}
    for rel in root.iter(_REL_NS + "Relationship"):
        rid, target = rel.get("Id"), rel.get("Target")
        if not rid or not target or rel.get("TargetMode") == "External":
            continue
        if target.startswith("/"):
            path = posixpath.normpath(target.lstrip("/"))
        else:
            path = posixpath.normpath(posixpath.join(base, target))
        if path.startswith(".."):
            raise ValueError(
                f"office {origin}: relationship {rid!r} target {target!r} "
                "escapes the archive root"
            )
        out[rid] = (path, rel.get("Type") or "")
    return out


# ------------------------------------------------------------------- xlsx


def _si_text(si) -> str:
    """One shared-string item (or inline-string body): plain ``t``
    children and rich runs ``r/t`` concatenate in order; phonetic
    ``rPh`` reading guides are furigana, not cell text — skipped."""
    parts: list = []
    for child in si:
        tag = child.tag
        if tag == _SML_NS + "t":
            parts.append(child.text or "")
        elif tag == _SML_NS + "r":
            t = child.find(_SML_NS + "t")
            if t is not None:
                parts.append(t.text or "")
    return "".join(parts)


def _xlsx_shared_strings(zf: zipfile.ZipFile, origin: str) -> list:
    """The sharedStrings table in index order (absent = empty: a
    workbook of pure numbers has no table at all)."""
    data = _read_member(zf, "xl/sharedStrings.xml", origin, required=False)
    if data is None:
        return []
    root = _parse_xml(data, origin, "xl/sharedStrings.xml")
    return [_si_text(si) for si in root.iter(_SML_NS + "si")]


def _xlsx_sheets(zf: zipfile.ZipFile, origin: str) -> list:
    """(name, member path) per sheet in WORKBOOK order — the order the
    tabs show, resolved through the workbook relationship part (sheet
    file NAMES are not contractual; the r:id is)."""
    wb = _read_member(zf, "xl/workbook.xml", origin)
    root = _parse_xml(wb, origin, "xl/workbook.xml")
    rels = _read_rels(zf, "xl/workbook.xml", origin)
    sheets = []
    for sheet in root.iter(_SML_NS + "sheet"):
        name = sheet.get("name") or ""
        rid = sheet.get(_R_ID)
        if rid is None or rid not in rels:
            raise ValueError(
                f"office {origin}: sheet {name!r} names no readable "
                "workbook relationship"
            )
        sheets.append((name, rels[rid][0]))
    if not sheets:
        raise ValueError(f"office {origin}: workbook declares no sheets")
    return sheets


def _xlsx_cell_text(c, sst: list, origin: str) -> str | None:
    """One ``c`` element's text, or None for an empty cell. Shared-string
    indices are attacker data — validated against the table. Number
    FORMATTING is deliberately left unapplied: numeric/boolean/error/
    formula-string cells emit the raw stored ``<v>`` (a date is its
    serial number; applying styles.xml numFmt pictures would be a
    locale-dependent rendering, not extraction)."""
    t = c.get("t", "n")
    if t == "inlineStr":
        is_el = c.find(_SML_NS + "is")
        return _si_text(is_el) if is_el is not None else None
    v = c.find(_SML_NS + "v")
    if v is None:
        return None
    raw = v.text or ""
    if t == "s":
        try:
            idx = int(raw)
        except ValueError:
            raise ValueError(
                f"office {origin}: shared-string ref {raw!r} is not an "
                "integer"
            ) from None
        if not 0 <= idx < len(sst):
            raise ValueError(
                f"office {origin}: shared-string index {idx} outside the "
                f"{len(sst)}-entry table"
            )
        return sst[idx]
    return raw


def xlsx_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """Every sheet in workbook order: the sheet name, then one line per
    non-empty row (cell values joined left-to-right), sheets separated
    by blank lines. Only ``workbook.xml``/``sharedStrings.xml``/the
    sheet parts decompress — embedded media and pivot caches never do."""
    with _open(payload, origin) as zf:
        sst = _xlsx_shared_strings(zf, origin)
        blocks = []
        for name, path in _xlsx_sheets(zf, origin):
            data = _read_member(zf, path, origin)
            root = _parse_xml(data, origin, path)
            lines = [name]
            for row in root.iter(_SML_NS + "row"):
                cells = []
                for c in row.iter(_SML_NS + "c"):
                    txt = _xlsx_cell_text(c, sst, origin)
                    if txt is not None and txt != "":
                        cells.append(txt)
                if cells:
                    lines.append("\t".join(cells))
            blocks.append("\n".join(lines))
    return _normalize("\n\n".join(blocks))


# ------------------------------------------------------------------- pptx


def _pptx_slides(zf: zipfile.ZipFile, origin: str) -> list:
    """Slide member paths in SPINE order (the sldIdLst sequence
    resolved through the presentation relationship part)."""
    pres = _read_member(zf, "ppt/presentation.xml", origin)
    root = _parse_xml(pres, origin, "ppt/presentation.xml")
    rels = _read_rels(zf, "ppt/presentation.xml", origin)
    slides = []
    for sld in root.iter(_PML_NS + "sldId"):
        rid = sld.get(_R_ID)
        if rid is None or rid not in rels:
            raise ValueError(
                f"office {origin}: slide id {sld.get('id')!r} names no "
                "readable presentation relationship"
            )
        slides.append(rels[rid][0])
    if not slides:
        raise ValueError(f"office {origin}: presentation declares no slides")
    return slides


def _drawing_paragraphs(root) -> list:
    """DrawingML text: one string per ``a:p`` paragraph — its ``a:t``
    runs concatenated in document order, ``a:br`` as newline. ``a:fld``
    subtrees are SKIPPED: field placeholders (slide numbers, datetimes)
    render per view, and every PowerPoint-authored notes slide carries a
    slide-number fld — emitting its digits would be silent corpus noise
    (the docx nested-paragraph rule's cousin). Explicit-stack walk: no
    recursion for a crafted deep tree to exhaust."""
    paras = []
    for p in root.iter(_A_NS + "p"):
        parts: list = []
        stack = list(reversed(list(p)))
        while stack:
            node = stack.pop()
            tag = node.tag
            if tag == _A_NS + "fld":
                continue
            if tag == _A_NS + "t":
                parts.append(node.text or "")
            elif tag == _A_NS + "br":
                parts.append("\n")
            else:
                stack.extend(reversed(list(node)))
        paras.append("".join(parts))
    return paras


def pptx_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """Slides in spine order, each slide's paragraphs one per line, its
    speaker notes (the notesSlide relationship) after the body; slides
    separated by blank lines. Only the presentation/slide/notes XML
    parts decompress — layouts, masters, and media never do."""
    with _open(payload, origin) as zf:
        blocks = []
        for path in _pptx_slides(zf, origin):
            data = _read_member(zf, path, origin)
            root = _parse_xml(data, origin, path)
            lines = [p for p in _drawing_paragraphs(root) if p]
            # a hand-trimmed slide part may carry no rels sibling at all
            rels = _read_rels(zf, path, origin, required=False)
            for rpath, rtype in rels.values():
                if rtype == _NOTES_REL:
                    ndata = _read_member(zf, rpath, origin)
                    nroot = _parse_xml(ndata, origin, rpath)
                    lines += [p for p in _drawing_paragraphs(nroot) if p]
            blocks.append("\n".join(lines))
    return _normalize("\n\n".join(blocks))


# -------------------------------------------------------------------- odt


_MAX_ODT_SPACES = 1_000_000  # text:c is attacker data: a 200-byte file
# must not command a gigabyte string (the zipsrc/gif/png guard rule)
_MAX_ODT_DEPTH = 128  # matches the pdf_text.py lexer nesting cap


def _odt_text(node, origin: str, depth: int = 0) -> str:
    """Recursive ODF text: spans nest, text:tab/line-break/s are
    elements (text:s carries a run length in @text:c, default 1 —
    bounded and validated, it's header-declared size). Nesting depth is
    attacker data too: a crafted content.xml with thousands of nested
    text:span elements must raise the loud ValueError, not
    RecursionError (same cap discipline as the pdf_text.py lexer)."""
    if depth > _MAX_ODT_DEPTH:
        raise ValueError(
            f"office {origin}: ODF text nesting exceeds "
            f"{_MAX_ODT_DEPTH} levels"
        )
    parts: list = [node.text or ""]
    for child in node:
        tag = child.tag
        if tag == _TEXT_NS + "tab":
            parts.append("\t")
        elif tag == _TEXT_NS + "line-break":
            parts.append("\n")
        elif tag == _TEXT_NS + "s":
            raw = child.get(_TEXT_NS + "c", "1")
            try:
                n = int(raw)
            except ValueError:
                raise ValueError(
                    f"office {origin}: text:s run length {raw!r} is not "
                    "an integer"
                ) from None
            if not 0 <= n <= _MAX_ODT_SPACES:
                raise ValueError(
                    f"office {origin}: text:s declares {n} spaces — "
                    f"outside 0..{_MAX_ODT_SPACES}"
                )
            parts.append(" " * n)
        else:
            parts.append(_odt_text(child, origin, depth + 1))
        parts.append(child.tail or "")
    return "".join(parts)


def odt_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    with _open(payload, origin) as zf:
        doc = _read_member(zf, "content.xml", origin)
    root = _parse_xml(doc, origin, "content.xml")
    paras = []
    for node in root.iter():
        if node.tag in (_TEXT_NS + "p", _TEXT_NS + "h"):
            paras.append(_odt_text(node, origin))
    return _normalize("\n".join(paras))


# ------------------------------------------------------------------- epub


def _epub_spine(zf: zipfile.ZipFile, origin: str) -> list:
    """SPINE member paths in reading order: container.xml → OPF →
    manifest hrefs (PERCENT-DECODED — OPF hrefs are IRIs, so a chapter
    named 'my ch.xhtml' is referenced as 'my%20ch.xhtml') → itemrefs."""
    from urllib.parse import unquote

    container = _read_member(zf, "META-INF/container.xml", origin)
    croot = _parse_xml(container, origin, "container.xml")
    rootfile = croot.find(
        f"{_CONTAINER_NS}rootfiles/{_CONTAINER_NS}rootfile"
    )
    if rootfile is None or not rootfile.get("full-path"):
        raise ValueError(
            f"office {origin}: container.xml names no rootfile"
        )
    opf_path = rootfile.get("full-path")
    opf = _read_member(zf, opf_path, origin)
    oroot = _parse_xml(opf, origin, opf_path)
    base = posixpath.dirname(opf_path)
    hrefs = {}
    for item in oroot.iter(_OPF_NS + "item"):
        iid, href = item.get("id"), item.get("href")
        if iid and href:
            href = unquote(href)
            hrefs[iid] = posixpath.normpath(
                posixpath.join(base, href) if base else href
            )
    spine = []
    for itemref in oroot.iter(_OPF_NS + "itemref"):
        idref = itemref.get("idref")
        path = hrefs.get(idref)
        if path is None:
            raise ValueError(
                f"office {origin}: spine idref {idref!r} has no manifest "
                "item"
            )
        spine.append(path)
    if not spine:
        raise ValueError(f"office {origin}: OPF spine is empty")
    return spine


def epub_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """container.xml → OPF → spine order → each XHTML chapter through
    html_to_text; chapters joined with blank lines. Only the spine
    members decompress — a book's images and fonts never do."""
    from hbase_observer_es_spark.operators.html_text import html_to_text

    chapters = []
    with _open(payload, origin) as zf:
        for path in _epub_spine(zf, origin):
            body = _read_member(zf, path, origin)
            # EPUB's default encoding is UTF-8; XHTML goes through the
            # library-free HTML extractor (it owns entities + whitespace)
            chapters.append(html_to_text(body.decode("utf-8", "replace")))
    return "\n\n".join(c for c in chapters if c).strip()


# ------------------------------------------------------------- shared bits


def _normalize(text: str) -> str:
    text = re.sub(r"[ \t]+", " ", text)
    text = "\n".join(ln.strip() for ln in text.split("\n"))
    return re.sub(r"\n{3,}", "\n\n", text).strip()


def office_to_text(payload: bytes, origin: str = "<bytes>") -> tuple:
    """(kind, text) by member sniff; non-office ZIPs refuse by name."""
    kind = sniff_office(payload, origin)
    if kind == "docx":
        return kind, docx_to_text(payload, origin)
    if kind == "xlsx":
        return kind, xlsx_to_text(payload, origin)
    if kind == "pptx":
        return kind, pptx_to_text(payload, origin)
    if kind == "odt":
        return kind, odt_to_text(payload, origin)
    if kind == "epub":
        return kind, epub_to_text(payload, origin)
    raise ValueError(
        f"office {origin}: ZIP payload is none of DOCX/XLSX/PPTX/ODT/EPUB "
        "(member sniff found no office signature)"
    )


def office_parts(payload: bytes, origin: str = "<bytes>",
                 kind: str | None = None) -> int:
    """Part count for the census: TOP-LEVEL paragraphs (docx — same rule
    as extraction), SHEETS (xlsx), SLIDES (pptx), paragraphs/headings
    (odt), or spine length (epub). Reads ONLY the structural member it
    needs — embedded images/fonts never decompress. Pass ``kind`` when
    the caller already sniffed."""
    kind = kind or sniff_office(payload, origin)
    if kind == "xlsx":
        with _open(payload, origin) as zf:
            return len(_xlsx_sheets(zf, origin))
    if kind == "pptx":
        with _open(payload, origin) as zf:
            return len(_pptx_slides(zf, origin))
    if kind == "docx":
        with _open(payload, origin) as zf:
            doc = _read_member(zf, "word/document.xml", origin)
        root = _parse_xml(doc, origin, "word/document.xml")
        return len(_docx_top_paragraphs(root))
    if kind == "odt":
        with _open(payload, origin) as zf:
            doc = _read_member(zf, "content.xml", origin)
        root = _parse_xml(doc, origin, "content.xml")
        return sum(
            1 for node in root.iter()
            if node.tag in (_TEXT_NS + "p", _TEXT_NS + "h")
        )
    if kind == "epub":
        with _open(payload, origin) as zf:
            return len(_epub_spine(zf, origin))
    raise ValueError(f"office {origin}: not an office document")


OFFICE_TEXT_SCHEMA = "doc_id long, kind string, n_chars long, text string"


def office_text_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """Spark fan-out: one text row per office payload via mapInPandas."""

    def extract(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"doc_id": [], "kind": [], "n_chars": [], "text": []}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                kind, text = office_to_text(bytes(payload), str(doc_id))
                rows["doc_id"].append(doc_id)
                rows["kind"].append(kind)
                rows["n_chars"].append(len(text))
                rows["text"].append(text)
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, OFFICE_TEXT_SCHEMA)
