"""Hypothesis properties for the round-14 production writers: arbitrary
inputs must survive the writer→parser round trip exactly (the codec
family's universal contract)."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from attic.operators.cfb import parse_cfb, write_cfb
from attic.operators.doc_text import doc_to_text, write_doc
from attic.sources.mailsrc import (
    parse_eml,
    parse_mailbox,
    write_eml,
    write_mbox,
)

# cap by ENCODED size, not character count: write_cfb's 62-byte limit
# is on UTF-16LE bytes, and astral characters take 4 bytes each
_names = st.text(
    alphabet=st.characters(
        codec="utf-16-le",
        exclude_characters="/",
        exclude_categories=("Cs",),
        min_codepoint=0x20,
    ),
    min_size=1,
    max_size=20,
).filter(lambda n: len(n.encode("utf-16-le")) <= 62)


@settings(max_examples=25, deadline=None)
@given(
    st.dictionaries(
        _names,
        st.binary(max_size=6000),  # straddles the 4096 mini/FAT cutoff
        min_size=0,
        max_size=6,
    )
)
def test_cfb_write_parse_round_trip(streams):
    data = write_cfb(streams)
    cfb = parse_cfb(data, "prop")
    assert {p: cfb.read_stream(p) for p in cfb.stream_paths()} == streams


# printable text plus TAB (the one control character write_doc accepts;
# the rest are the format's in-band marks and refuse)
_para = st.text(
    alphabet=st.one_of(
        st.characters(min_codepoint=0x20, exclude_categories=("Cs",)),
        st.just("\t"),
    ),
    max_size=80,
)


@settings(max_examples=25, deadline=None)
@given(st.lists(_para, min_size=0, max_size=5))
def test_doc_write_extract_round_trip(paragraphs):
    data = write_doc(paragraphs)
    # an empty input writes Word's minimal document (one paragraph mark)
    want = "".join(p + "\n" for p in paragraphs) or "\n"
    assert doc_to_text(data, "prop") == want


_body = st.text(
    alphabet=st.characters(exclude_categories=("Cs",), min_codepoint=0x20),
    max_size=200,
)


@settings(max_examples=25, deadline=None)
@given(
    _body,
    st.text(
        alphabet=st.characters(min_codepoint=0x20, exclude_categories=("Cs",)),
        max_size=40,
    ),
    st.integers(min_value=0, max_value=4_000_000_000_000_000),
    st.lists(st.binary(max_size=200), max_size=2),
)
def test_eml_write_parse_round_trip(body, subject, date_us, blobs):
    atts = [
        (f"a{i}.bin", "application/octet-stream", b) for i, b in enumerate(blobs)
    ]
    # formatdate has 1-second resolution: write at whole seconds
    date_us = (date_us // 1_000_000) * 1_000_000
    eml = write_eml("a@x.example", "b@x.example", subject, date_us, body, atts)
    m = parse_eml(eml, "prop")
    assert m["text"] == body
    assert m["subject"] == subject.strip() or m["subject"] == subject
    assert m["date_utc_us"] == date_us
    assert [(f, c, r) for _p, f, c, r in m["attachments"]] == atts
    # and through an mbox: a message without a final newline gains one
    # (the format's framing requirement, documented on write_mbox)
    msgs = parse_mailbox(write_mbox([eml]), "prop")
    assert len(msgs) == 1 and msgs[0]["text"] in (body, body + "\n")
