"""EML / MBOX email ingest — RFC 5322 headers + MIME multipart, one
task per mailbox.

Mail corpora are a staple text source (Enron, mailing-list archives,
discovery dumps), and the formats are fully public: RFC 5322 message
syntax, RFC 2045-2047 MIME, RFC 2231 parameter encoding, and the mbox
family (mboxo/mboxrd From-line quoting). Parsing rides the stdlib
``email`` package (the ``tarfile``/``zipfile`` precedent: stdlib
container codecs are in-bounds) — but DECODING is done by hand, because
the stdlib's content manager folds replacement characters into
undecodable text and this repo's discipline is strict decode or a loud
named error:

* transfer decoding (base64 / quoted-printable / 7bit / 8bit) via
  ``get_payload(decode=True)``;
* charset decoding via the part's DECLARED charset, ``errors="strict"``
  — an unknown charset or a byte sequence the charset cannot represent
  raises a ValueError naming the message and part path, never folds
  U+FFFD into the corpus (the rtf_text.py convention);
* encoded headers (RFC 2047 ``=?utf-8?B?…?=``) decode through
  ``email.policy.default``'s header machinery; a malformed encoded-word
  survives as its raw token (the policy's documented behavior) rather
  than crashing the header walk;
* bodies: ``text/plain`` parts direct; ``text/html`` through the repo's
  own ``html_text.html_to_text``; within ``multipart/alternative`` the
  plainest renderable alternative wins (text/plain > text/html —
  alternatives are the SAME content, a text pipeline wants the text
  form, documented here). Other leaves and anything with
  ``Content-Disposition: attachment`` land as ATTACHMENTS — binary
  payloads with filename + declared type, routed onward through the
  media census like any other binary column;
* MBOX splitting: messages begin at ``From `` envelope lines
  (column 0); ``>From`` quoting is unescaped by stripping ONE ``>``
  from ``>+From `` lines (mboxrd, which also covers mboxo's simpler
  escape); a payload that does not open with an envelope line refuses;
* ``Date:`` parses through ``email.utils.parsedate_to_datetime`` to
  epoch microseconds (missing timezone = UTC per the -0000 semantic);
  a MISSING Date lands 0, a PRESENT-but-unparseable one raises — a
  header that exists and lies is attacker data.

Scale posture: one task per mailbox file via the ``binaryFile``
datasource + ``mapInPandas`` (the tarsrc/zipsrc shape) — mailboxes
never touch the driver and never shuffle; a directory of per-user
mboxes parallelizes by file. A single multi-GB mbox does not split
(messages are newline-framed, not length-framed) — re-shard upstream,
same note as tarsrc. Per-message and per-mailbox byte budgets guard
decompression-free but still unbounded inputs (a 10 GB attachment is a
refusal, not an OOM).

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``attic/sources/tarsrc.py``/``warc.py``.
"""

from __future__ import annotations

import email
import email.policy
import email.utils
import re

from pyspark.sql import DataFrame, SparkSession

MAIL_GLOB = "*.{eml,mbox}"

MAX_MESSAGE_BYTES = 64 * 1024 * 1024  # one message (incl. attachments)
MAX_MESSAGES = 100_000  # per-mailbox count guard

MAIL_SCHEMA = (
    "mailbox string, msg_idx long, message_id string, subject string,"
    " sender string, recipients string, date_utc_us long, text string,"
    " n_parts long, n_attachments long"
)

ATTACH_SCHEMA = (
    "mailbox string, msg_idx long, part string, filename string,"
    " content_type string, content binary"
)

_FROM_LINE = re.compile(rb"^From ", re.M)
_QUOTED_FROM = re.compile(rb"^(>+)From ", re.M)

# headers whose presence on line 1 marks a headerless-magic EML payload
_EML_HEADS = (
    b"received:", b"return-path:", b"from:", b"delivered-to:",
    b"message-id:", b"date:", b"subject:", b"to:", b"mime-version:",
    b"x-mailer:",
)


def looks_like_mbox(payload: bytes) -> bool:
    return payload[:5] == b"From "


def looks_like_eml(payload: bytes) -> bool:
    """Structural sniff for a format with no magic: the payload must
    OPEN with a canonical RFC 5322 header line. Deliberately
    conservative — prose that happens to start with 'subject:' routes
    here, which the strict parse then vets."""
    head = payload[:64].lower()
    return any(head.startswith(h) for h in _EML_HEADS)


def split_mbox(payload: bytes, origin: str = "<bytes>") -> list:
    """MBOX → raw RFC 5322 message bytes, mboxrd-unescaped."""
    if not looks_like_mbox(payload):
        raise ValueError(
            f"mbox {origin}: does not open with a 'From ' envelope line "
            f"(starts {payload[:16]!r})"
        )
    starts = [m.start() for m in _FROM_LINE.finditer(payload)]
    if len(starts) > MAX_MESSAGES:
        raise ValueError(
            f"mbox {origin}: more than {MAX_MESSAGES} messages — shard "
            "the mailbox or raise MAX_MESSAGES"
        )
    out = []
    for i, s in enumerate(starts):
        e = starts[i + 1] if i + 1 < len(starts) else len(payload)
        body_at = payload.find(b"\n", s)
        if body_at == -1:
            raise ValueError(
                f"mbox {origin}: message {i} is only an envelope line"
            )
        raw = payload[body_at + 1 : e]
        # mboxrd unescape: ">>From " -> ">From ", ">From " -> "From "
        raw = _QUOTED_FROM.sub(lambda m: m.group(1)[1:] + b"From ", raw)
        if raw.endswith(b"\n\n"):
            raw = raw[:-1]  # the separator blank line belongs to mbox
        out.append(raw)
    return out


def _decode_text(part, path: str, origin: str) -> str:
    raw = part.get_payload(decode=True)
    if raw is None:
        raw = b""
    charset = part.get_content_charset() or "us-ascii"
    try:
        return raw.decode(charset, errors="strict")
    except LookupError as exc:
        raise ValueError(
            f"mail {origin}: part {path} declares unknown charset "
            f"{charset!r}"
        ) from exc
    except UnicodeDecodeError as exc:
        raise ValueError(
            f"mail {origin}: part {path} byte {exc.object[exc.start]:#x} "
            f"at offset {exc.start} is invalid under its declared "
            f"charset {charset!r}"
        ) from exc


def _is_attachment(part) -> bool:
    disp = part.get_content_disposition()
    if disp == "attachment":
        return True
    ctype = part.get_content_type()
    if ctype.startswith("multipart/") or ctype == "message/rfc822":
        return False
    return not ctype.startswith("text/")


def _walk(part, path, origin, texts, attachments):
    """Depth-first part walk; ``path`` is the 1-based dotted index the
    error messages and attachment rows carry."""
    ctype = part.get_content_type()
    if ctype == "multipart/alternative":
        subs = part.get_payload()
        if not isinstance(subs, list) or not subs:
            raise ValueError(
                f"mail {origin}: part {path} is an empty "
                "multipart/alternative"
            )
        # the plainest renderable alternative (see module docstring)
        pick = None
        for i, sub in enumerate(subs):
            st = sub.get_content_type()
            if st == "text/plain":
                pick = (i, sub)
                break
            if st == "text/html" and pick is None:
                pick = (i, sub)
        if pick is None:
            # no renderable alternative: land the last as an attachment
            # (RFC 2046: last = highest fidelity)
            i, sub = len(subs) - 1, subs[-1]
            _walk(sub, f"{path}.{i + 1}", origin, texts, attachments)
            return
        _walk(pick[1], f"{path}.{pick[0] + 1}", origin, texts, attachments)
        return
    if ctype.startswith("multipart/"):
        subs = part.get_payload()
        if not isinstance(subs, list):
            raise ValueError(
                f"mail {origin}: part {path} multipart without sub-parts"
            )
        for i, sub in enumerate(subs):
            _walk(sub, f"{path}.{i + 1}", origin, texts, attachments)
        return
    if ctype == "message/rfc822":
        # an attached email lands whole, as bytes, typed by name
        subs = part.get_payload()
        inner = subs[0] if isinstance(subs, list) and subs else None
        raw = inner.as_bytes() if inner is not None else b""
        attachments.append((path, part.get_filename() or "", ctype, raw))
        return
    if _is_attachment(part):
        raw = part.get_payload(decode=True) or b""
        attachments.append(
            (path, part.get_filename() or "", ctype, raw)
        )
        return
    text = _decode_text(part, path, origin)
    if ctype == "text/html":
        from hbase_observer_es_spark.operators.html_text import html_to_text

        text = html_to_text(text)
    texts.append(text)


def parse_eml(payload: bytes, origin: str = "<bytes>") -> dict:
    """One RFC 5322 message → flat facts + body text + attachments."""
    if len(payload) > MAX_MESSAGE_BYTES:
        raise ValueError(
            f"mail {origin}: {len(payload)}-byte message is over the "
            f"{MAX_MESSAGE_BYTES}-byte guard"
        )
    msg = email.message_from_bytes(payload, policy=email.policy.default)
    if not msg.items():
        raise ValueError(f"mail {origin}: no RFC 5322 headers at all")
    date_us = 0
    date_raw = msg.get("Date")
    if date_raw is not None:
        try:
            dt = email.utils.parsedate_to_datetime(str(date_raw))
        except ValueError as exc:
            raise ValueError(
                f"mail {origin}: unparseable Date header {str(date_raw)!r}"
            ) from exc
        if dt.tzinfo is None:
            import datetime as _dt

            dt = dt.replace(tzinfo=_dt.timezone.utc)
        date_us = int(dt.timestamp() * 1_000_000)
    texts: list = []
    attachments: list = []
    _walk(msg, "1", origin, texts, attachments)
    return {
        "message_id": str(msg.get("Message-ID", "") or "").strip(),
        "subject": str(msg.get("Subject", "") or ""),
        "sender": str(msg.get("From", "") or ""),
        "recipients": str(msg.get("To", "") or ""),
        "date_utc_us": date_us,
        "text": "\n".join(texts),
        "n_parts": len(texts) + len(attachments),
        "n_attachments": len(attachments),
        "attachments": attachments,
    }


def parse_mailbox(payload: bytes, origin: str = "<bytes>") -> list:
    """EML or MBOX payload → list of parsed message dicts."""
    if looks_like_mbox(payload):
        raws = split_mbox(payload, origin)
        return [
            parse_eml(raw, f"{origin}[{i}]") for i, raw in enumerate(raws)
        ]
    return [parse_eml(payload, origin)]


# -------------------------------------------------------------- writers


def _h_encode(value: str) -> str:
    """Header value: ASCII stays raw, anything else becomes ONE RFC 2047
    utf-8/base64 encoded word (deterministic)."""
    import base64

    try:
        value.encode("ascii")
        return value
    except UnicodeEncodeError:
        return "=?utf-8?B?" + base64.b64encode(value.encode()).decode() + "?="


def write_eml(
    sender: str,
    to: str,
    subject: str,
    date_us: int,
    text: str,
    attachments: list | None = None,
) -> bytes:
    """Deterministic RFC 5322/MIME message — the production writer
    closing the round trip (``parse_eml(write_eml(...))`` recovers
    every field; pinned by test, exercised by the corpus demo's census
    arm). ASCII bodies go 7bit text/plain; non-ASCII bodies go base64
    utf-8; attachments force multipart/mixed with a content-derived
    boundary (no RNG, no clock — the repo's determinism rule)."""
    import base64
    import email.utils
    import hashlib

    def body_part(in_multipart: bool) -> bytes:
        try:
            raw = text.encode("ascii")
            # inside multipart the CRLF BEFORE a boundary belongs to the
            # delimiter (RFC 2046), so the part needs its own terminator
            # to keep the body's exact trailing bytes; at top level the
            # body simply ends
            return (
                b"Content-Type: text/plain; charset=us-ascii\r\n"
                b"Content-Transfer-Encoding: 7bit\r\n\r\n"
                + raw + (b"\r\n" if in_multipart else b"")
            )
        except UnicodeEncodeError:
            return (
                b"Content-Type: text/plain; charset=utf-8\r\n"
                b"Content-Transfer-Encoding: base64\r\n\r\n"
                + base64.encodebytes(text.encode())
            )

    date = email.utils.formatdate(date_us / 1_000_000, usegmt=True)
    head = (
        f"From: {_h_encode(sender)}\r\n"
        f"To: {_h_encode(to)}\r\n"
        f"Subject: {_h_encode(subject)}\r\n"
        f"Date: {date}\r\n"
        "MIME-Version: 1.0\r\n"
    ).encode("ascii")
    if not attachments:
        return head + body_part(False)
    digest = hashlib.md5(
        text.encode() + b"".join(raw for _, _, raw in attachments)
    ).hexdigest()
    boundary = f"=_b_{digest}"
    out = head + (
        f'Content-Type: multipart/mixed; boundary="{boundary}"\r\n\r\n'
    ).encode("ascii")
    out += f"--{boundary}\r\n".encode() + body_part(True)
    for fname, ctype, raw in attachments:
        out += f"--{boundary}\r\n".encode()
        out += f"Content-Type: {ctype}\r\n".encode("ascii")
        out += b"Content-Transfer-Encoding: base64\r\n"
        out += (
            "Content-Disposition: attachment; "
            f'filename="{fname}"\r\n\r\n'
        ).encode("ascii")
        out += base64.encodebytes(raw)
    out += f"--{boundary}--\r\n".encode()
    return out


def write_mbox(messages: list) -> bytes:
    """MBOX from raw message bytes: ``From `` envelope lines (the fixed
    deterministic timestamp the format requires but nothing reads) and
    mboxrd ``>From`` escaping. Message BYTES are preserved — CRLF line
    endings included — so ``split_mbox`` round-trips newline-terminated
    messages exactly (the same bytes hash identically whether ingested
    as .eml or from the mbox); a message without a final newline gains
    one, the format's framing requirement."""
    out = b""
    for raw in messages:
        out += b"From - Thu Jan  1 00:00:00 1970\n"
        # mboxrd: EVERY ^(>*)From line gains one ">" so the unescape
        # (strip one ">" from >+From) is an exact inverse
        body = re.sub(rb"^(>*From )", rb">\1", raw, flags=re.M)
        out += body
        if not body.endswith(b"\n"):
            out += b"\n"
        out += b"\n"
    return out


def _binary_files(spark: SparkSession, path: str, glob: str):
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )


def read_mail(
    spark: SparkSession, path: str, glob: str = MAIL_GLOB
) -> DataFrame:
    """(mailbox, msg_idx, message_id, subject, sender, recipients,
    date_utc_us, text, n_parts, n_attachments) — one row per message,
    one task per mailbox file."""
    import pandas as pd

    def explode(batches):
        for pdf in batches:
            rows: dict = {k: [] for k in (
                "mailbox", "msg_idx", "message_id", "subject", "sender",
                "recipients", "date_utc_us", "text", "n_parts",
                "n_attachments",
            )}
            for p, content in zip(pdf["path"], pdf["content"]):
                for i, m in enumerate(parse_mailbox(bytes(content), p)):
                    rows["mailbox"].append(p)
                    rows["msg_idx"].append(i)
                    for k in (
                        "message_id", "subject", "sender", "recipients",
                        "date_utc_us", "text", "n_parts", "n_attachments",
                    ):
                        rows[k].append(m[k])
            yield pd.DataFrame(rows)

    return _binary_files(spark, path, glob).mapInPandas(explode, MAIL_SCHEMA)


def read_mail_attachments(
    spark: SparkSession, path: str, glob: str = MAIL_GLOB
) -> DataFrame:
    """(mailbox, msg_idx, part, filename, content_type, content) — the
    binary attachment column, census-ready."""
    import pandas as pd

    def explode(batches):
        for pdf in batches:
            rows: dict = {k: [] for k in (
                "mailbox", "msg_idx", "part", "filename", "content_type",
                "content",
            )}
            for p, content in zip(pdf["path"], pdf["content"]):
                for i, m in enumerate(parse_mailbox(bytes(content), p)):
                    for part, fname, ctype, raw in m["attachments"]:
                        rows["mailbox"].append(p)
                        rows["msg_idx"].append(i)
                        rows["part"].append(part)
                        rows["filename"].append(fname)
                        rows["content_type"].append(ctype)
                        rows["content"].append(raw)
            yield pd.DataFrame(rows)

    return _binary_files(spark, path, glob).mapInPandas(
        explode, ATTACH_SCHEMA
    )
