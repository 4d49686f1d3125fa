"""AGL core-subset glyph resolution (attic/operators/agl.py) — every table
entry is UCD-derived at import, so these tests pin the APPLICATION
algorithm and a spread of known-value spot checks."""

from __future__ import annotations

import pytest

from attic.operators.agl import GLYPH_MAP, glyph_to_text


def test_spot_values_across_the_families():
    assert glyph_to_text("a") == "a" and glyph_to_text("Q") == "Q"
    assert glyph_to_text("zero") == "0" and glyph_to_text("nine") == "9"
    assert glyph_to_text("space") == " "
    assert glyph_to_text("quotesingle") == "'"
    assert glyph_to_text("aacute") == "á"
    assert glyph_to_text("Scedilla") == "Ş"
    assert glyph_to_text("lslash") == "ł"
    assert glyph_to_text("Oslash") == "Ø"
    assert glyph_to_text("germandbls") == "ß"
    assert glyph_to_text("dotlessi") == "ı"
    assert glyph_to_text("endash") == "–"
    assert glyph_to_text("emdash") == "—"
    assert glyph_to_text("quoteright") == "’"
    assert glyph_to_text("fi") == "ﬁ"
    assert glyph_to_text("ffl") == "ﬄ"
    assert glyph_to_text("Euro") == "€"
    assert glyph_to_text("guillemotleft") == "«"


def test_application_algorithm():
    # uniXXXX: one or more 4-hex-digit groups
    assert glyph_to_text("uni0041") == "A"
    assert glyph_to_text("uni00410042") == "AB"
    assert glyph_to_text("u0041") == "A"
    assert glyph_to_text("u1F600") == "\U0001f600"
    # suffix variants strip to the base name; .notdef is empty
    assert glyph_to_text("a.sc") == "a"
    assert glyph_to_text("fi.alt1") == "ﬁ"
    assert glyph_to_text(".notdef") == ""
    # underscore ligature names map each component
    assert glyph_to_text("f_i") == "fi"
    assert glyph_to_text("a_uni0042") == "aB"


@pytest.mark.parametrize(
    "bad",
    [
        "g23",            # pdfTeX subset leftovers are NOT resolvable
        "uniD800",        # surrogate
        "u110000",        # past U+10FFFF
        "uni041",         # not a 4-digit group
        "alpha_unknown",  # unknown component poisons the whole name
        ".weird",         # unknown dot-name
        "",
    ],
)
def test_unknown_names_raise(bad):
    with pytest.raises(KeyError):
        glyph_to_text(bad)


def test_table_is_ucd_consistent():
    """Every single-character mapping agrees with unicodedata on
    round-trip: looking up the character's own name returns it. (The
    import itself already proves each name exists; this pins that no
    entry maps to a DIFFERENT existing character by accident.)"""
    import unicodedata

    for glyph, text in GLYPH_MAP.items():
        assert len(text) >= 1, glyph
        for ch in text:
            name = unicodedata.name(ch, None)
            assert name is not None, (glyph, hex(ord(ch)))
            assert unicodedata.lookup(name) == ch


def test_trailing_newline_names_refuse():
    """Review r13: a crafted PDF name escape (/uni0041#0A) lexes to a
    glyph name with a trailing newline — it must refuse, not resolve
    ($ would match before the newline; the pattern anchors with \\Z)."""
    with pytest.raises(KeyError):
        glyph_to_text("uni0041\n")
    with pytest.raises(KeyError):
        glyph_to_text("u0041\n")
