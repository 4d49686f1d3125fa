"""Legacy binary PowerPoint (``.ppt``) text extraction — from the
public MS-PPT Open Specification, over the ``cfb.py`` container.

The third legacy-Office leg. The ``PowerPoint Document`` stream is a
tree of 8-byte-headed records (version/instance, type, length;
version ``0xF`` marks a container). Text lives in exactly two atom
types — ``TextCharsAtom`` (UTF-16LE) and ``TextBytesAtom`` (the
compressed low-byte form, latin-1) — so the simplest-form extraction
is a guarded depth-first walk collecting them in stream order.

The catch is FAST-SAVED files: PowerPoint appends incremental edits,
so a multi-edit stream carries STALE records whose text a naive walk
would duplicate or resurrect. Since r15 the edit chain RESOLVES for
real: the ``Current User`` stream's ``CurrentUserAtom`` (plain-text
header token required — the encrypted token refuses by name) points at
the newest ``UserEditAtom``; the chain walks backward through
``offsetLastEdit`` (loop-guarded), each edit's
``PersistDirectoryAtom`` merges into one persistId→offset map with
NEWEST-edit precedence (MS-PPT §2.3.4 — the defining fast-save rule),
and text is collected ONLY from the live persist objects, in stream
(offset) order. A superseded slide's old record is simply absent from
the merged map, so stale text can neither duplicate nor resurrect. A
single-edit stream keeps the direct whole-stream walk (every record is
live there, and real single-edit writers agree between the two
orders).

Guards: record lengths are attacker data — a record overrunning its
container or the stream names its byte offset; container depth is
capped (stack bombs); the UserEditAtom offset is validated against the
stream.

Scale posture: one payload per task (the census calls this inside its
mapInPandas pass); the walk is linear in the stream.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``doc_text.py``/``xls_text.py``.
"""

from __future__ import annotations

import struct

from attic.operators.cfb import cfb_subformat, parse_cfb

_RT_USER_EDIT = 0x0FF5
_RT_TEXT_CHARS = 0x0FA0
_RT_TEXT_BYTES = 0x0FA8
_RT_SLIDE = 0x03EE
_RT_PERSIST_DIR = 0x1772

_MAX_EDITS = 100_000  # edit-chain bomb guard

_PLAIN_TOKEN = 0xE391C05F
_ENCRYPTED_TOKEN = 0xF3D1C4DF

_MAX_DEPTH = 64


def _header(data: bytes, at: int, origin: str) -> tuple:
    if at + 8 > len(data):
        raise ValueError(
            f"ppt {origin}: truncated record header at byte {at}"
        )
    ver_inst, rtype, rlen = struct.unpack_from("<HHI", data, at)
    return ver_inst & 0x000F, rtype, rlen


def _walk(data: bytes, start: int, end: int, origin: str, depth: int,
          texts: list, counts: dict) -> None:
    if depth > _MAX_DEPTH:
        raise ValueError(
            f"ppt {origin}: record nesting deeper than {_MAX_DEPTH} at "
            f"byte {start} — refusing (container bomb)"
        )
    at = start
    while at < end:
        ver, rtype, rlen = _header(data, at, origin)
        body = at + 8
        if body + rlen > end:
            raise ValueError(
                f"ppt {origin}: record {rtype:#06x} at byte {at} declares "
                f"{rlen} bytes past its container"
            )
        counts[rtype] = counts.get(rtype, 0) + 1
        if ver == 0xF:  # container
            _walk(data, body, body + rlen, origin, depth + 1, texts, counts)
        elif rtype == _RT_TEXT_CHARS:
            if rlen % 2:
                raise ValueError(
                    f"ppt {origin}: TextCharsAtom at byte {at} has odd "
                    f"length {rlen}"
                )
            texts.append(data[body : body + rlen].decode("utf-16-le"))
        elif rtype == _RT_TEXT_BYTES:
            texts.append(data[body : body + rlen].decode("latin-1"))
        at = body + rlen


def _current_edit_offset(cfb, origin: str) -> int:
    try:
        cu = cfb.read_stream("Current User")
    except ValueError as exc:
        raise ValueError(
            f"ppt {origin}: no Current User stream: {exc}"
        ) from exc
    # RecordHeader(8) + size(4) + token(4) + offsetToCurrentEdit(4)
    if len(cu) < 20:
        raise ValueError(
            f"ppt {origin}: Current User stream of {len(cu)} bytes is "
            "shorter than the CurrentUserAtom (need 20)"
        )
    # RecordHeader (8) then size(4), headerToken(4), offsetToCurrentEdit(4)
    token, offset = struct.unpack_from("<II", cu, 12)
    if token == _ENCRYPTED_TOKEN:
        raise NotImplementedError(
            f"ppt {origin}: encrypted presentation (CryptoAPI header "
            "token) not implemented; decrypt upstream"
        )
    if token != _PLAIN_TOKEN:
        raise ValueError(
            f"ppt {origin}: CurrentUserAtom header token {token:#010x} "
            "is neither the plain nor the encrypted constant"
        )
    return offset


def ppt_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """All LIVE text atoms of the presentation in stream order, one
    line per atom; fast-saved edit chains resolve per the module
    docstring."""
    return _extract(parse_cfb(payload, origin), origin)[2]


def _extract(cfb, origin: str) -> tuple:
    """(texts, record-type counts, normalized text) — ONE parse, ONE
    walk; ``ppt_to_text``/``ppt_meta``/``doc_text.doc_meta`` all ride
    this so the census never parses a payload twice."""
    from attic.operators.office_text import _normalize

    if cfb_subformat(cfb) != "ppt":
        raise ValueError(
            f"ppt {origin}: compound file has no PowerPoint Document "
            "stream"
        )
    doc = cfb.read_stream("PowerPoint Document")
    edit_at = _current_edit_offset(cfb, origin)
    if edit_at + 8 > len(doc):
        raise ValueError(
            f"ppt {origin}: offsetToCurrentEdit {edit_at} outside the "
            f"{len(doc)}-byte document stream"
        )
    _ver, rtype, rlen = _header(doc, edit_at, origin)
    if rtype != _RT_USER_EDIT:
        raise ValueError(
            f"ppt {origin}: record at offsetToCurrentEdit {edit_at} is "
            f"{rtype:#06x}, not a UserEditAtom"
        )
    # offsetLastEdit sits at body offset 8..12: bound BOTH the declared
    # record length and the stream before unpacking (struct.error is not
    # a ValueError and would escape the census fold)
    if rlen < 12 or edit_at + 8 + 12 > len(doc):
        raise ValueError(
            f"ppt {origin}: UserEditAtom at byte {edit_at} truncated "
            f"(record length {rlen}, stream {len(doc)} bytes)"
        )
    (offset_last_edit,) = struct.unpack_from("<I", doc, edit_at + 8 + 8)
    texts: list = []
    counts: dict = {}
    if offset_last_edit == 0:
        # single edit: every record is live, stream order IS document
        # order (and fixtures without persist directories stay valid)
        _walk(doc, 0, len(doc), origin, 0, texts, counts)
    else:
        # fast-saved: only the merged persist map knows which records
        # are live (module docstring)
        for off in _live_offsets(doc, edit_at, origin):
            _ver, rtype, rlen = _header(doc, off, origin)
            if off + 8 + rlen > len(doc):
                raise ValueError(
                    f"ppt {origin}: persist object at byte {off} declares "
                    f"{rlen} bytes past the stream end"
                )
            _walk(doc, off, off + 8 + rlen, origin, 0, texts, counts)
    return texts, counts, _normalize("\n".join(texts))


def _user_edit_fields(doc: bytes, at: int, origin: str) -> tuple:
    """Validated UserEditAtom → (offsetLastEdit, offsetPersistDirectory)."""
    _ver, rtype, rlen = _header(doc, at, origin)
    if rtype != _RT_USER_EDIT:
        raise ValueError(
            f"ppt {origin}: edit-chain record at byte {at} is "
            f"{rtype:#06x}, not a UserEditAtom"
        )
    if rlen < 20 or at + 8 + 20 > len(doc):
        raise ValueError(
            f"ppt {origin}: UserEditAtom at byte {at} truncated "
            f"(record length {rlen}, stream {len(doc)} bytes)"
        )
    last_edit, persist_dir = struct.unpack_from("<II", doc, at + 8 + 8)
    return last_edit, persist_dir


def _live_offsets(doc: bytes, edit_at: int, origin: str) -> list:
    """Resolve the fast-save edit chain: walk UserEditAtoms newest →
    oldest, merge each edit's PersistDirectoryAtom into one
    persistId→offset map with NEWEST precedence, return the live
    objects' unique offsets in stream order."""
    persist: dict = {}
    seen: set = set()
    at = edit_at
    while True:
        if at in seen:
            raise ValueError(
                f"ppt {origin}: UserEditAtom chain loops back to byte {at}"
            )
        seen.add(at)
        if len(seen) > _MAX_EDITS:
            raise ValueError(
                f"ppt {origin}: more than {_MAX_EDITS} edits in the "
                "chain — refusing (edit-chain bomb)"
            )
        last_edit, dir_at = _user_edit_fields(doc, at, origin)
        if dir_at + 8 > len(doc):
            raise ValueError(
                f"ppt {origin}: offsetPersistDirectory {dir_at} outside "
                f"the {len(doc)}-byte stream"
            )
        _ver, rtype, rlen = _header(doc, dir_at, origin)
        if rtype != _RT_PERSIST_DIR:
            raise ValueError(
                f"ppt {origin}: record at offsetPersistDirectory "
                f"{dir_at} is {rtype:#06x}, not a PersistDirectoryAtom"
            )
        pos, end = dir_at + 8, dir_at + 8 + rlen
        if end > len(doc):
            raise ValueError(
                f"ppt {origin}: PersistDirectoryAtom at byte {dir_at} "
                f"declares {rlen} bytes past the stream end"
            )
        while pos < end:
            if pos + 4 > end:
                raise ValueError(
                    f"ppt {origin}: persist directory entry header at "
                    f"byte {pos} truncated"
                )
            (word,) = struct.unpack_from("<I", doc, pos)
            pid, cnt = word & 0xFFFFF, word >> 20
            pos += 4
            if pos + 4 * cnt > end:
                raise ValueError(
                    f"ppt {origin}: persist directory entry at byte "
                    f"{pos - 4} declares {cnt} offsets past the atom end"
                )
            for i in range(cnt):
                (off,) = struct.unpack_from("<I", doc, pos)
                pos += 4
                if off + 8 > len(doc):
                    raise ValueError(
                        f"ppt {origin}: persist id {pid + i} points at "
                        f"byte {off}, outside the {len(doc)}-byte stream"
                    )
                # newest-first walk: an id already mapped stays mapped
                persist.setdefault(pid + i, off)
        if last_edit == 0:
            break
        at = last_edit
    return sorted(set(persist.values()))


def ppt_meta(payload: bytes, origin: str = "<bytes>") -> dict:
    """Census facts: slide-container count + extracted character count
    (one parse, one walk)."""
    _texts, counts, text = _extract(parse_cfb(payload, origin), origin)
    return {"n_slides": counts.get(_RT_SLIDE, 0), "n_chars": len(text)}
