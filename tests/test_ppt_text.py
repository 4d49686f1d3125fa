"""MS-PPT extraction tests — record trees hand-assembled byte by byte
(independent of the parser), wrapped in real CFB containers, covering
the single-edit contract and the fast-save refusal."""

from __future__ import annotations

import struct

import pytest

from attic.operators.ppt_text import (
    ppt_meta,
    ppt_to_text,
)
from tests.test_doc_text import _make_cfb

_PLAIN = 0xE391C05F
_ENC = 0xF3D1C4DF


def _rec(rtype: int, body: bytes, container: bool = False,
         instance: int = 0) -> bytes:
    ver = 0xF if container else 0
    return struct.pack("<HHI", ver | (instance << 4), rtype, len(body)) + body


def _text_chars(s: str) -> bytes:
    return _rec(0x0FA0, s.encode("utf-16-le"))


def _text_bytes(s: str) -> bytes:
    return _rec(0x0FA8, s.encode("latin-1"))


def _user_edit(offset_last_edit: int = 0) -> bytes:
    body = struct.pack(
        "<IHBBIIIIHH", 256, 0, 0, 0, offset_last_edit, 0, 0, 1, 0, 0
    )
    return _rec(0x0FF5, body)


def _current_user(offset_to_current_edit: int, token: int = _PLAIN) -> bytes:
    body = struct.pack("<II", token, offset_to_current_edit) + b"\x00" * 12
    return _rec(0x0FF6, struct.pack("<I", len(body) + 4) + body)


def _ppt(doc_records: bytes, edit_offset: int | None = None,
         token: int = _PLAIN, last_edit: int = 0) -> bytes:
    edit = _user_edit(last_edit)
    if edit_offset is None:
        edit_offset = len(doc_records)
        doc = doc_records + edit
    else:
        doc = doc_records
    return _make_cfb({
        "PowerPoint Document": doc,
        "Current User": _current_user(edit_offset, token),
    })


def test_basic_text_extraction():
    slide = _rec(0x03EE, _text_chars("Título slide") + _text_bytes("body"),
                 container=True)
    slide2 = _rec(0x03EE, _text_bytes("second"), container=True)
    data = _ppt(_rec(0x03E8, slide + slide2, container=True))
    assert ppt_to_text(data, "t") == "Título slide\nbody\nsecond"
    m = ppt_meta(data, "t")
    assert m["n_slides"] == 2 and m["n_chars"] > 0


def test_census_reports_ppt_chars():
    from attic.operators.media_census import classify_media

    data = _ppt(_rec(0x03EE, _text_bytes("census text"), container=True))
    row = classify_media(data, "t")
    assert (row["family"], row["format"]) == ("document", "ppt")
    assert row["detail"] == f"{len(ppt_to_text(data, 't'))} chars"


def _user_edit_at(offset_last_edit: int, persist_dir: int) -> bytes:
    body = struct.pack(
        "<IHBBIIIIHH", 256, 0, 0, 0, offset_last_edit, persist_dir,
        1, 2, 0, 0,
    )
    return _rec(0x0FF5, body)


def _persist_dir(entries: dict) -> bytes:
    """PersistDirectoryAtom from {persistId: offset} (one id per entry)."""
    body = b"".join(
        struct.pack("<II", (1 << 20) | pid, off)
        for pid, off in sorted(entries.items())
    )
    return _rec(0x1772, body)


def _fastsave_ppt():
    """Two-edit stream: edit 1 holds doc(pid1,'hello') + slide(pid2,'v1');
    edit 2 supersedes pid2 with a new slide 'v2'. Live text must be
    'hello' + 'v2'; 'v1' is stale and must neither appear nor duplicate."""
    doc1 = _rec(0x03E8, _text_bytes("hello"), container=True)
    slide1 = _rec(0x03EE, _text_bytes("v1"), container=True)
    off_doc1, off_slide1 = 0, len(doc1)
    pd1 = _persist_dir({1: off_doc1, 2: off_slide1})
    off_pd1 = off_slide1 + len(slide1)
    ue1 = _user_edit_at(0, off_pd1)
    off_ue1 = off_pd1 + len(pd1)
    slide2 = _rec(0x03EE, _text_bytes("v2"), container=True)
    off_slide2 = off_ue1 + len(ue1)
    pd2 = _persist_dir({2: off_slide2})
    off_pd2 = off_slide2 + len(slide2)
    ue2 = _user_edit_at(off_ue1, off_pd2)
    off_ue2 = off_pd2 + len(pd2)
    stream = doc1 + slide1 + pd1 + ue1 + slide2 + pd2 + ue2
    return _make_cfb({
        "PowerPoint Document": stream,
        "Current User": _current_user(off_ue2),
    }), off_ue1, off_ue2


def test_fastsave_resolves_live_objects_only():
    """r15: the edit chain resolves for real — newest persist directory
    wins, stale records are skipped, live objects walk in stream order."""
    data, _, _ = _fastsave_ppt()
    assert ppt_to_text(data, "t") == "hello\nv2"
    m = ppt_meta(data, "t")
    assert m["n_slides"] == 1  # only the LIVE slide counts


def test_fastsave_chain_guards():
    # a chain that loops back refuses with the offset
    doc1 = _rec(0x03E8, _text_bytes("hello"), container=True)
    pd = _persist_dir({1: 0})
    off_pd = len(doc1)
    # ue1 points at ue2 (forward!) and ue2 points back at ue1: loop
    off_ue1 = off_pd + len(pd)
    ue1_len = len(_user_edit_at(0, off_pd))
    off_ue2 = off_ue1 + ue1_len
    ue1 = _user_edit_at(off_ue2, off_pd)
    ue2 = _user_edit_at(off_ue1, off_pd)
    stream = doc1 + pd + ue1 + ue2
    data = _make_cfb({
        "PowerPoint Document": stream,
        "Current User": _current_user(off_ue1),
    })
    with pytest.raises(ValueError, match="chain loops back"):
        ppt_to_text(data, "t")
    # offsetPersistDirectory at a non-PersistDirectoryAtom refuses
    doc1 = _rec(0x03E8, _text_bytes("hello"), container=True)
    ue = _user_edit_at(1, 0)  # last_edit nonzero, persist dir -> doc1
    stream = doc1 + ue
    data = _make_cfb({
        "PowerPoint Document": stream,
        "Current User": _current_user(len(doc1)),
    })
    with pytest.raises(ValueError, match="not a PersistDirectoryAtom"):
        ppt_to_text(data, "t")


def test_encrypted_refuses_by_name():
    data = _ppt(_rec(0x03EE, _text_bytes("x"), container=True), token=_ENC)
    with pytest.raises(NotImplementedError, match="encrypted"):
        ppt_to_text(data, "t")


def test_malformed_refuses_with_offsets():
    # record overruns its container
    bad_inner = struct.pack("<HHI", 0, 0x0FA8, 999) + b"xy"
    data = _ppt(_rec(0x03E8, bad_inner, container=True))
    with pytest.raises(ValueError, match="past its container"):
        ppt_to_text(data, "t")
    # offsetToCurrentEdit outside the stream
    data = _ppt(_rec(0x03EE, _text_bytes("x"), container=True),
                edit_offset=99999)
    with pytest.raises(ValueError, match="outside the"):
        ppt_to_text(data, "t")
    # offset pointing at a non-UserEditAtom
    data = _ppt(_text_bytes("x") + _user_edit(), edit_offset=0)
    with pytest.raises(ValueError, match="not a UserEditAtom"):
        ppt_to_text(data, "t")
    # bad header token
    data = _ppt(_rec(0x03EE, _text_bytes("x"), container=True),
                token=0xDEADBEEF)
    with pytest.raises(ValueError, match="header token"):
        ppt_to_text(data, "t")
    # odd-length UTF-16 atom
    odd = struct.pack("<HHI", 0, 0x0FA0, 3) + b"abc"
    data = _ppt(odd)
    with pytest.raises(ValueError, match="odd"):
        ppt_to_text(data, "t")
    # container bomb: nesting past the depth cap
    bomb = _text_bytes("x")
    for _ in range(80):
        bomb = _rec(0x03E8, bomb, container=True)
    data = _ppt(bomb)
    with pytest.raises(ValueError, match="container bomb"):
        ppt_to_text(data, "t")
