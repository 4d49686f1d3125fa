"""MS-OXMSG (.msg) extraction — fixtures are real compound files built
with the production nested-storage writer (and, for the refusal cases,
hand-tweaked streams), per the codec pinning discipline."""

from __future__ import annotations

import pytest

from attic.operators.cfb import parse_cfb, write_cfb
from attic.operators.msg_text import (
    msg_meta,
    msg_to_text,
    write_msg,
)


def test_round_trip_fields():
    data = write_msg(
        "Quarterly numbers",
        "Ana Ruiz",
        ["Bob Lee", "Cécile D."],
        "Hi all,\nnumbers attached.",
        attachments=2,
    )
    text = msg_to_text(data, "t")
    assert text == (
        "Quarterly numbers\nAna Ruiz\nBob Lee\nCécile D.\n"
        "Hi all,\nnumbers attached."
    )
    m = msg_meta(data, "t")
    assert (m["n_recipients"], m["n_attachments"]) == (2, 2)
    assert m["n_chars"] == len(text)
    assert write_msg("a", "b", ["c"], "d") == write_msg("a", "b", ["c"], "d")


def test_recipients_keep_index_order():
    data = write_msg("s", "me", [f"r{i}" for i in range(12)], "b")
    lines = msg_to_text(data, "t").split("\n")
    assert lines[2:14] == [f"r{i}" for i in range(12)]


def test_census_routes_msg_as_message():
    from attic.operators.media_census import classify_media

    data = write_msg("subj", "me", ["you"], "body", attachments=1)
    row = classify_media(data, "t")
    assert (row["family"], row["format"], row["n_frames"]) == (
        "message", "msg", 1,
    )
    assert "1 recipients, 1 attachments" in row["detail"]


def test_ansi_string8_refuses_by_name():
    streams = {
        "__properties_version1.0": b"\x00" * 24,
        "__substg1.0_1000001E": b"ansi body",
    }
    with pytest.raises(NotImplementedError, match="PtypString8"):
        msg_to_text(write_cfb(streams), "t")


def test_rtf_only_body_extracts_like_its_plain_twin():
    """r16: an RTF-only body (PidTagRtfCompressed, LZFu) decompresses
    through attic/operators/lzfu.py and extracts the SAME text as the
    plain-body twin — closing the r15 by-name refusal. Census msg rows
    carry its char count."""
    body = "Hi all,\nthe café numbers are attached — 100% done."
    plain = write_msg("Subj", "Ana", ["Bob"], body)
    rtf = write_msg("Subj", "Ana", ["Bob"], body, rtf_only=True)
    assert msg_to_text(rtf, "t") == msg_to_text(plain, "t")
    assert msg_meta(rtf, "t")["n_chars"] == msg_meta(plain, "t")["n_chars"]
    # a plain-text 0x1000 body stays authoritative over a dual-write
    cfb = parse_cfb(rtf, "t")
    streams = {e.path: cfb.read_stream(e.path)
               for e in cfb.entries if e.type == 2}
    streams["__substg1.0_1000001F"] = "plain wins".encode("utf-16-le")
    dual = write_cfb(streams)
    assert "plain wins" in msg_to_text(dual, "t")
    assert "café" not in msg_to_text(dual, "t")


def test_rtf_only_body_with_corrupt_lzfu_is_loud():
    streams = {
        "__properties_version1.0": b"\x00" * 24,
        "__substg1.0_0037001F": "s".encode("utf-16-le"),
        "__substg1.0_10090102": b"\x01\x02\x03",
    }
    with pytest.raises(ValueError, match="lzfu .*16-byte header"):
        msg_to_text(write_cfb(streams), "t")


def test_malformed_unicode_refuses_with_offsets():
    # odd-length UTF-16 property
    streams = {
        "__properties_version1.0": b"\x00" * 24,
        "__substg1.0_0037001F": b"abc",
    }
    with pytest.raises(ValueError, match="odd byte length 3"):
        msg_to_text(write_cfb(streams), "t")
    # unpaired surrogate
    streams["__substg1.0_0037001F"] = b"\x00\xd8"
    with pytest.raises(ValueError, match="not valid UTF-16LE"):
        msg_to_text(write_cfb(streams), "t")
    # not a .msg at all
    with pytest.raises(ValueError, match="not an MS-OXMSG"):
        msg_to_text(write_cfb({"whatever": b"x"}), "t")


def test_doc_meta_and_subformat_route_msg():
    from attic.operators.cfb import cfb_subformat
    from attic.operators.doc_text import doc_meta, doc_to_text

    data = write_msg("subj", "me", ["you"], "body")
    assert cfb_subformat(parse_cfb(data)) == "msg"
    m = doc_meta(data, "t")
    assert m["subformat"] == "msg" and m["n_chars"] > 0
    with pytest.raises(ValueError, match="route it\nto msg_text|route it"):
        doc_to_text(data, "t")


def _props_with_cp(cp: int, tag: int = 0x3FFD0003) -> bytes:
    import struct

    return b"\x00" * 32 + struct.pack("<IIQ", tag, 0, cp)


def test_ansi_strings_decode_with_declared_codepage():
    """r15 review pass: PtypString8 decodes strictly in the codepage the
    property stream declares (PidTagMessageCodepage here)."""
    streams = {
        "__properties_version1.0": _props_with_cp(1251),
        "__substg1.0_0037001E": "тема".encode("cp1251"),
        "__substg1.0_1000001E": "привет мир".encode("cp1251"),
    }
    assert msg_to_text(write_cfb(streams), "t") == "тема\nпривет мир"
    # PidTagInternetCodepage is honored when the message codepage is absent
    streams["__properties_version1.0"] = _props_with_cp(1251, tag=0x3FDE0003)
    assert msg_to_text(write_cfb(streams), "t") == "тема\nпривет мир"


def test_ansi_strict_decode_and_unknown_codepage():
    import pytest as _pytest

    # 0x81 is undefined in cp1252: strict decode names the codec
    streams = {
        "__properties_version1.0": _props_with_cp(1252),
        "__substg1.0_0037001E": b"\x81",
    }
    with _pytest.raises(ValueError, match="not decodable as cp1252"):
        msg_to_text(write_cfb(streams), "t")
    # declared codepage with no decoder refuses by name
    streams["__properties_version1.0"] = _props_with_cp(54321)
    with _pytest.raises(NotImplementedError, match="codepage 54321"):
        msg_to_text(write_cfb(streams), "t")


def test_unicode_msg_with_exotic_declared_codepage_still_decodes():
    """r15 review regression: a pure-unicode message whose property
    stream declares a codepage Python has no cpNNNN alias for (e.g.
    28591 iso-8859-1) must keep decoding — the codec resolves lazily,
    only when an ANSI stream actually needs it."""
    streams = {
        "__properties_version1.0": _props_with_cp(28591),
        "__substg1.0_0037001F": "s".encode("utf-16-le"),
        "__substg1.0_1000001F": "unicode body".encode("utf-16-le"),
    }
    assert msg_to_text(write_cfb(streams), "t") == "s\nunicode body"
    # ...but an ANSI stream under that codepage refuses by name
    streams["__substg1.0_0C1A001E"] = b"sender"
    with pytest.raises(NotImplementedError, match="codepage 28591"):
        msg_to_text(write_cfb(streams), "t")


def test_unicode_stream_beats_ansi_twin():
    """Dual-write messages: 001F is authoritative; the 001E copy (often
    a lossy '?'-substituted transcoding) must not shadow it."""
    streams = {
        "__properties_version1.0": _props_with_cp(1252),
        "__substg1.0_0037001F": "résumé".encode("utf-16-le"),
        "__substg1.0_0037001E": b"r?sum?",
    }
    assert msg_to_text(write_cfb(streams), "t") == "résumé"
