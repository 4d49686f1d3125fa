"""EML/MBOX ingest tests — hand-written RFC 5322/MIME byte fixtures
(never produced by the email package's generator, so the decoder is
pinned against bytes it didn't write), a charset zoo, and the strict
no-replacement-garbage contract."""

from __future__ import annotations

import base64
import datetime as dt

import pytest

from attic.sources.mailsrc import (
    looks_like_eml,
    looks_like_mbox,
    parse_eml,
    parse_mailbox,
    read_mail,
    read_mail_attachments,
    split_mbox,
)

SIMPLE = (
    b"From: Alice Example <alice@example.com>\r\n"
    b"To: bob@example.com\r\n"
    b"Subject: Hello\r\n"
    b"Date: Mon, 23 Jun 2003 10:15:00 -0500\r\n"
    b"Message-ID: <m1@example.com>\r\n"
    b"\r\n"
    b"Plain body line.\r\n"
    b"Second line.\r\n"
)


def _b64(data: bytes) -> bytes:
    return base64.encodebytes(data)


MIXED = (
    b"From: z@example.com\r\n"
    b"To: y@example.com\r\n"
    # RFC 2047 encoded-word subject
    b"Subject: =?utf-8?B?"
    + base64.b64encode("Résumé 日本".encode())
    + b"?=\r\n"
    b"Date: Tue, 24 Jun 2003 00:00:00 +0000\r\n"
    b"MIME-Version: 1.0\r\n"
    b'Content-Type: multipart/mixed; boundary="BB"\r\n'
    b"\r\n"
    b"--BB\r\n"
    b"Content-Type: text/plain; charset=utf-8\r\n"
    b"Content-Transfer-Encoding: quoted-printable\r\n"
    b"\r\n"
    b"caf=C3=A9 body\r\n"
    b"--BB\r\n"
    b"Content-Type: text/plain; charset=iso-8859-1\r\n"
    b"Content-Transfer-Encoding: quoted-printable\r\n"
    b"\r\n"
    b"latin caf=E9\r\n"
    b"--BB\r\n"
    b"Content-Type: text/html; charset=us-ascii\r\n"
    b"\r\n"
    b"<p>html <b>bold</b> text</p>\r\n"
    b"--BB\r\n"
    b"Content-Type: application/octet-stream\r\n"
    b"Content-Transfer-Encoding: base64\r\n"
    # RFC 2231 continuation/charset filename
    b"Content-Disposition: attachment;"
    b" filename*=utf-8''r%C3%A9sum%C3%A9.bin\r\n"
    b"\r\n" + _b64(bytes(range(16))) + b"--BB--\r\n"
)

ALTERNATIVE = (
    b"From: a@example.com\r\n"
    b"Subject: alt\r\n"
    b'Content-Type: multipart/alternative; boundary="AA"\r\n'
    b"\r\n"
    b"--AA\r\n"
    b"Content-Type: text/plain; charset=us-ascii\r\n"
    b"\r\n"
    b"the plain form\r\n"
    b"--AA\r\n"
    b"Content-Type: text/html; charset=us-ascii\r\n"
    b"\r\n"
    b"<p>the <i>html</i> form</p>\r\n"
    b"--AA--\r\n"
)

HTML_ONLY_ALT = (
    b"From: a@example.com\r\n"
    b'Content-Type: multipart/alternative; boundary="CC"\r\n'
    b"\r\n"
    b"--CC\r\n"
    b"Content-Type: text/html; charset=us-ascii\r\n"
    b"\r\n"
    b"<p>only html here</p>\r\n"
    b"--CC--\r\n"
)


def _mbox(*messages: bytes) -> bytes:
    out = b""
    for m in messages:
        out += b"From alice@example.com Mon Jun 23 15:15:00 2003\n"
        out += m.replace(b"\r\n", b"\n")
        if not out.endswith(b"\n"):
            out += b"\n"
        out += b"\n"
    return out


def test_simple_message_facts():
    m = parse_eml(SIMPLE, "t")
    assert m["sender"] == "Alice Example <alice@example.com>"
    assert m["recipients"] == "bob@example.com"
    assert m["subject"] == "Hello"
    assert m["message_id"] == "<m1@example.com>"
    assert m["text"] == "Plain body line.\r\nSecond line.\r\n"
    want = dt.datetime(2003, 6, 23, 15, 15, tzinfo=dt.timezone.utc)
    assert m["date_utc_us"] == int(want.timestamp() * 1_000_000)
    assert m["n_parts"] == 1 and m["n_attachments"] == 0


def test_multipart_mixed_charset_zoo_and_attachment():
    m = parse_eml(MIXED, "t")
    assert m["subject"] == "Résumé 日本"  # RFC 2047 decoded
    assert "café body" in m["text"]  # QP + utf-8
    assert "latin café" in m["text"]  # QP + iso-8859-1
    assert "html bold text" in m["text"]  # html_to_text
    assert m["n_attachments"] == 1
    part, fname, ctype, raw = m["attachments"][0]
    assert fname == "résumé.bin"  # RFC 2231 decoded
    assert ctype == "application/octet-stream"
    assert raw == bytes(range(16))


def test_alternative_prefers_plain():
    m = parse_eml(ALTERNATIVE, "t")
    assert m["text"].strip() == "the plain form"
    assert "html" not in m["text"]


def test_alternative_html_only_renders():
    m = parse_eml(HTML_ONLY_ALT, "t")
    assert "only html here" in m["text"]


def test_mbox_split_and_from_unescaping():
    quoted = (
        b"From: q@example.com\r\n"
        b"Subject: quoting\r\n"
        b"\r\n"
        b">From the start of a line.\r\n"
        b">>From double.\r\n"
        b"mid From stays.\r\n"
    )
    data = _mbox(SIMPLE, quoted, ALTERNATIVE)
    assert looks_like_mbox(data)
    raws = split_mbox(data, "t")
    assert len(raws) == 3
    msgs = parse_mailbox(data, "t")
    assert [m["subject"] for m in msgs] == ["Hello", "quoting", "alt"]
    body = msgs[1]["text"]
    assert "From the start of a line." in body
    assert ">From double." in body  # one > stripped, one kept
    assert "mid From stays." in body


def test_refusals_are_loud():
    with pytest.raises(ValueError, match="envelope line"):
        split_mbox(b"not a mailbox", "t")
    bad_charset = SIMPLE.replace(
        b"\r\nPlain", b"Content-Type: text/plain; charset=x-klingon\r\n"
        b"\r\nPlain"
    )
    with pytest.raises(ValueError, match="unknown charset 'x-klingon'"):
        parse_eml(bad_charset, "t")
    # declared us-ascii (implicit) with a 0xFF byte: strict decode names
    # the byte, never folds U+FFFD
    bad_bytes = (
        b"From: x@example.com\r\n"
        b"Content-Type: text/plain; charset=us-ascii\r\n"
        b"Content-Transfer-Encoding: 8bit\r\n"
        b"\r\nbad \xff byte\r\n"
    )
    with pytest.raises(ValueError, match=r"byte 0xff .* 'us-ascii'"):
        parse_eml(bad_bytes, "t")
    with pytest.raises(ValueError, match="unparseable Date"):
        parse_eml(SIMPLE.replace(
            b"Mon, 23 Jun 2003 10:15:00 -0500", b"not a date at all"), "t")
    with pytest.raises(ValueError, match="no RFC 5322 headers"):
        parse_eml(b"just some prose\r\nwith no headers\r\n", "t")


def test_missing_date_is_zero_not_error():
    no_date = SIMPLE.replace(
        b"Date: Mon, 23 Jun 2003 10:15:00 -0500\r\n", b"")
    assert parse_eml(no_date, "t")["date_utc_us"] == 0


def test_census_family_message():
    from attic.operators.media_census import classify_media

    assert looks_like_eml(SIMPLE)
    row = classify_media(SIMPLE, "t")
    assert (row["family"], row["format"], row["n_frames"]) == (
        "message", "eml", 1)
    row = classify_media(_mbox(SIMPLE, MIXED), "t")
    assert (row["family"], row["format"], row["n_frames"]) == (
        "message", "mbox", 2)
    assert row["detail"] == "1 attachments"
    # a corrupt message folds into an error row (census policy)
    bad = _mbox(SIMPLE.replace(
        b"Mon, 23 Jun 2003 10:15:00 -0500", b"garbage date"))
    row = classify_media(bad, "t")
    assert row["family"] == "error" and "unparseable Date" in row["detail"]


def test_read_mail_through_spark(spark, tmp_path):
    (tmp_path / "one.eml").write_bytes(MIXED)
    (tmp_path / "box.mbox").write_bytes(_mbox(SIMPLE, ALTERNATIVE))
    (tmp_path / "ignored.txt").write_bytes(b"not mail")
    df = read_mail(spark, str(tmp_path))
    rows = {(r["mailbox"].rsplit("/", 1)[-1], r["msg_idx"]): r
            for r in df.collect()}
    assert set(rows) == {("one.eml", 0), ("box.mbox", 0), ("box.mbox", 1)}
    assert rows[("one.eml", 0)]["subject"] == "Résumé 日本"
    assert rows[("box.mbox", 1)]["text"].strip() == "the plain form"
    att = read_mail_attachments(spark, str(tmp_path)).collect()
    assert len(att) == 1
    assert att[0]["filename"] == "résumé.bin"
    assert bytes(att[0]["content"]) == bytes(range(16))


# ------------------------------------------------- production writers


def test_write_eml_round_trip():
    from attic.sources.mailsrc import write_eml

    date_us = 1_056_380_100_000_000  # 2003-06-23T15:15:00Z, µs
    eml = write_eml(
        "Alice <alice@example.com>", "bob@example.com", "Résumé 日本",
        date_us, "corps café\nline two\n",
        attachments=[("blob.bin", "application/octet-stream",
                      bytes(range(32)))],
    )
    m = parse_eml(eml, "t")
    assert m["sender"] == "Alice <alice@example.com>"
    assert m["subject"] == "Résumé 日本"
    assert m["date_utc_us"] == date_us
    assert m["text"] == "corps café\nline two\n"
    assert m["n_attachments"] == 1
    _, fname, ctype, raw = m["attachments"][0]
    assert (fname, ctype, raw) == (
        "blob.bin", "application/octet-stream", bytes(range(32)))
    # deterministic bytes
    assert write_eml(
        "Alice <alice@example.com>", "bob@example.com", "Résumé 日本",
        date_us, "corps café\nline two\n",
        attachments=[("blob.bin", "application/octet-stream",
                      bytes(range(32)))],
    ) == eml


def test_write_mbox_round_trip_with_from_lines():
    from attic.sources.mailsrc import write_eml, write_mbox

    body = "From the top.\n>From quoted.\nmid From ok.\n"
    m1 = write_eml("a@x", "b@x", "one", 0, body)
    m2 = write_eml("c@x", "d@x", "two", 0, "plain\n")
    box = write_mbox([m1, m2])
    msgs = parse_mailbox(box, "t")
    assert [m["subject"] for m in msgs] == ["one", "two"]
    assert msgs[0]["text"] == body


def test_write_mbox_preserves_crlf_bytes():
    """Message bytes survive the mbox round trip VERBATIM (CRLF
    included) so the same message hashes identically whether ingested
    as .eml or out of an mbox."""
    from attic.sources.mailsrc import write_mbox

    raw = SIMPLE  # CRLF line endings throughout, ends with \r\n
    assert split_mbox(write_mbox([raw, raw]), "t") == [raw, raw]
