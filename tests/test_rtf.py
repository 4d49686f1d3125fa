"""RTF extraction: hand-written documents covering the token grammar,
destination skipping (named and \\*-convention), unicode/codepage
escapes, group-state restore, binary skip, guards, and the Spark
fan-out."""

from __future__ import annotations

import pytest

from attic.operators.rtf_text import (
    looks_like_rtf,
    rtf_text_frame,
    rtf_to_text,
)


def test_basic_paragraphs_and_formatting_dropped():
    doc = (rb"{\rtf1\ansi{\fonttbl{\f0 Calibri;}}"
           rb"\f0\fs22 Hello \b bold\b0  world.\par Second line.\par}")
    assert rtf_to_text(doc) == "Hello bold world.\nSecond line.\n"


def test_destinations_and_star_convention_skipped():
    doc = (rb"{\rtf1\ansi"
           rb"{\info{\author Secret Name}}"
           rb"{\*\generator Riched20 10.0;}"
           rb"{\colortbl;\red0\green0\blue0;}"
           rb"Visible text.\par}")
    t = rtf_to_text(doc)
    assert t == "Visible text.\n"
    assert "Secret" not in t and "Riched20" not in t


def test_field_result_kept_instruction_skipped():
    doc = (rb"{\rtf1{\field{\*\fldinst HYPERLINK "
           rb'"http://x"'
           rb"}{\fldrslt the link text}}\par}")
    assert rtf_to_text(doc) == "the link text\n"


def test_hex_escapes_through_ansicpg():
    # cp1252: \'e9 = e-acute, \'93/\'94 = curly quotes
    doc = rb"{\rtf1\ansi\ansicpg1252 caf\'e9 \'93q\'94\par}"
    assert rtf_to_text(doc) == "café “q”\n"


def test_unicode_escape_swallows_uc_fallbacks():
    # \uc1: one fallback char after \u follows and must be swallowed
    doc = rb"{\rtf1\uc1 gr\u252 ?n\par}"
    assert rtf_to_text(doc) == "grün\n"
    # \uc2: TWO fallback chars after \u are swallowed
    doc2 = rb"{\rtf1\uc2 a\u8364 EUb\par}"
    assert rtf_to_text(doc2) == "a€b\n"
    # negative code point is signed 16-bit (adds 65536)
    doc3 = rb"{\rtf1\uc0 \u-3825\par}"
    assert rtf_to_text(doc3) == chr(-3825 + 65536) + "\n"


def test_group_state_restores():
    doc = rb"{\rtf1\uc1{\uc3 \u65 xyz}\u66 ?B\par}"
    # A (3 fallbacks "xyz" swallowed), } restores uc=1, then B
    # (1 fallback "?" swallowed), literal 'B'
    assert rtf_to_text(doc) == "ABB\n"


def test_control_symbols_and_bin():
    doc = rb"{\rtf1 a\~b\_c \\ \{ \} \par}"
    assert rtf_to_text(doc) == "a\xa0b-c \\ { } \n"  # \~ = nbsp
    # \bin swallows raw bytes that must never reach the text (here the
    # 3 raw bytes happen to look like RTF syntax)
    doc3 = rb"{\rtf1 x\bin3 {\}y\par}"
    assert rtf_to_text(doc3) == "xy\n"


def test_breaks_tabs_dashes():
    doc = rb"{\rtf1 a\tab b\line c\emdash d\par}"
    assert rtf_to_text(doc) == "a\tb\nc—d\n"


def test_guards_are_loud():
    assert looks_like_rtf(b"{\\rtf1}")
    with pytest.raises(ValueError, match=r"not an RTF stream"):
        rtf_to_text(b"plain text")
    with pytest.raises(ValueError, match=r"unbalanced '}'"):
        rtf_to_text(rb"{\rtf1}}")
    with pytest.raises(ValueError, match=r"2 unclosed group"):
        rtf_to_text(rb"{\rtf1 {open")
    with pytest.raises(ValueError, match=r"truncated \\' escape"):
        rtf_to_text(rb"{\rtf1 \'f")
    with pytest.raises(ValueError, match=r"unknown code page 99999"):
        rtf_to_text(rb"{\rtf1\ansicpg99999 x}")
    with pytest.raises(ValueError, match=r"group depth past 128"):
        rtf_to_text(b"{\\rtf1 " + b"{" * 200)
    with pytest.raises(ValueError, match=r"\\u without a code point"):
        rtf_to_text(rb"{\rtf1 \u \par}")


def test_rtf_through_spark(spark):
    doc = rb"{\rtf1\ansi Hello\par world\par}"
    df = spark.createDataFrame([(7, doc)], "doc_id long, payload binary")
    rows = rtf_text_frame(df).collect()
    assert len(rows) == 1
    assert rows[0].text == "Hello\nworld\n" and rows[0].n_chars == 12


def test_rtf_through_census():
    from attic.operators.media_census import classify_media

    r = classify_media(rb"{\rtf1 Hello\par}")
    assert (r["family"], r["format"], r["detail"]) == (
        "document", "rtf", "6 chars")
    # a corrupt RTF folds into an error row, message verbatim
    bad = classify_media(rb"{\rtf1 \'f")
    assert bad["family"] == "error" and "truncated" in bad["detail"]


# ------------------------------------------------- r13 review hardening

def test_double_byte_codepage_decodes_as_runs():
    """cp932: あ is the DBCS pair 0x82 0xA0 — the two \\'xx escapes must
    decode TOGETHER through the code page, not byte-at-a-time."""
    doc = rb"{\rtf1\ansicpg932 \'82\'a0!\par}"
    assert rtf_to_text(doc) == "あ!\n"


def test_undecodable_bytes_refuse_by_name():
    """A lone DBCS lead byte cannot decode — the promise is refusal,
    never replacement garbage in the corpus."""
    doc = rb"{\rtf1\ansicpg932 \'82\par}"
    with pytest.raises(ValueError, match=r"does not decode as cp932"):
        rtf_to_text(doc)


def test_uc_fallback_counts_control_words_and_symbols():
    """A control symbol or word consumed as the \\u fallback must use up
    the skip budget — otherwise the NEXT real character is swallowed."""
    # \~ is the one fallback unit; X must survive
    doc = rb"{\rtf1\uc1 \u8364\~X\par}"
    assert rtf_to_text(doc) == "€X\n"
    # a formatting control word as the fallback unit
    doc2 = rb"{\rtf1\uc1 \u8364\tab X\par}"
    assert rtf_to_text(doc2) == "€X\n"


def test_surrogate_pairs_combine():
    """Word writes astral characters as UTF-16 \\u pairs (negative,
    signed 16-bit) with fallbacks after each half."""
    # U+1F600 = D83D DE00 = -10179 -8704
    doc = rb"{\rtf1\uc1 \u-10179 ?\u-8704 ?!\par}"
    assert rtf_to_text(doc) == "\U0001F600!\n"
    with pytest.raises(ValueError, match=r"lone high surrogate"):
        rtf_to_text(rb"{\rtf1\uc0 \u-10179 x\par}")
    with pytest.raises(ValueError, match=r"lone low surrogate"):
        rtf_to_text(rb"{\rtf1\uc0 \u-8704\par}")


def test_malformed_parameters_are_named_errors():
    with pytest.raises(ValueError, match=r"bare minus with no digits"):
        rtf_to_text(rb"{\rtf1 \foo- x}")
    with pytest.raises(ValueError, match=r"longer than 10 digits"):
        rtf_to_text(rb"{\rtf1 \bin99999999999999 x}")
    with pytest.raises(ValueError, match=r"outside the signed-16-bit"):
        rtf_to_text(rb"{\rtf1 \u99999 ?\par}")
    with pytest.raises(ValueError, match=r"bad \\' hex"):
        rtf_to_text(b"{\\rtf1 \\'+f}")
    with pytest.raises(ValueError, match=r"\\bin10 at byte .* overruns"):
        rtf_to_text(rb"{\rtf1 \bin10 xy}")


def test_fallback_budget_never_crosses_a_brace():
    r"""The \uc skip budget resets at { and } — fallback data never
    spans a group boundary, so adjacent-group text survives."""
    assert rtf_to_text(rb"{\rtf1 {\uc1\u228}X\par}") == "äX\n"
    assert rtf_to_text(rb"{\rtf1 \uc1\u228{X}\par}") == "äX\n"


def test_line_wrap_bytes_do_not_consume_fallback():
    r"""CR/LF are ignored entirely per spec — a writer wrapping the
    line between \uN and its fallback must not leak the fallback."""
    assert rtf_to_text(b"{\\rtf1\\uc1 \\u8364\r\n?X\\par}") == "\u20acX\n"


def test_symbol_between_surrogate_halves_is_loud():
    with pytest.raises(ValueError, match=r"lone high surrogate"):
        rtf_to_text(rb"{\rtf1\uc0 \u-10179\~\u-8704\par}")
