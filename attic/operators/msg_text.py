"""Outlook ``.msg`` (MS-OXMSG) text extraction over the ``cfb.py``
container — from the public MS-OXMSG Open Specification.

The fourth compound-file leg, and the one a crawled ENTERPRISE corpus
carries in bulk: exported Outlook messages. An ``.msg`` is a compound
file whose root holds property streams named
``__substg1.0_PPPPTTTT`` (``PPPP`` = property id, ``TTTT`` = property
type, both uppercase hex), a fixed-width ``__properties_version1.0``
stream, one ``__recip_version1.0_#XXXXXXXX`` storage per recipient and
one ``__attach_version1.0_#XXXXXXXX`` storage per attachment (each with
its own property streams inside).

Text path (the fields a curation pipeline wants):

* subject  — property ``0x0037``,
* sender   — ``0x0C1A`` (display name),
* recipients — ``0x3001`` (display name) inside each recipient storage,
  in storage-index order,
* body     — ``0x1000`` (plain-text body),
* attachment long filenames — ``0x3707`` — surface in the META counts,
  not the text.

String properties decode from type ``001F`` (UTF-16LE, strict — odd
lengths and unpaired surrogates name their offset). Type ``001E``
(PtypString8, the ANSI form) decodes since the r15 review pass WHEN the
top-level fixed-width ``__properties_version1.0`` stream declares the
codepage — ``PidTagMessageCodepage`` (``0x3FFD``, PtypInteger32) or
``PidTagInternetCodepage`` (``0x3FDE``) — strictly in that codepage
(the shared ``textcodec`` discipline: unknown codepages and
undecodable bytes refuse naming the codec — resolved LAZILY at the
first ANSI stream that needs it, so a pure-unicode message with an
exotic declared codepage keeps decoding). When a property carries BOTH
forms, the ``001F`` unicode stream is authoritative (dual-write ANSI
copies are lossy transcodings). An ANSI string with NO declared
codepage still REFUSES BY NAME — guessing would violate the
strict-decode contract. RTF-only bodies (``0x1009``, the LZFu
compressed-RTF format) DECODE FOR REAL since r16 through the from-spec
MS-OXRTFCP decoder (``lzfu.py``) routed into the ``rtf_text.py``
extractor — closing the r15 by-name refusal; a plain-text ``0x1000``
body, when present, stays authoritative.

Guards: stream names and sizes are attacker data (the CFB layer already
bounds sectors); this layer validates UTF-16 parity and surfaces
missing-field messages with the property id.

Scale posture: one payload per task via the census's mapInPandas pass;
the walk touches only the property streams it names.

Reference parity: none — builder-brief document-pipeline surface
(SURVEY §2-D), beside ``doc_text.py``/``xls_text.py``/``ppt_text.py``
and the RFC 5322 ingest (``attic/sources/mailsrc.py``).
"""

from __future__ import annotations

from attic.operators.cfb import CfbFile, parse_cfb

_T_UNICODE = "001F"
_T_STRING8 = "001E"

_P_SUBJECT = "0037"
_P_SENDER_NAME = "0C1A"
_P_BODY = "1000"
_P_RTF_BODY = "1009"
_P_DISPLAY_NAME = "3001"
_P_ATTACH_LONG_NAME = "3707"

_RECIP_PREFIX = "__recip_version1.0_#"
_ATTACH_PREFIX = "__attach_version1.0_#"

# PtypInteger32 property tags that declare the ANSI-string codepage
# (MS-OXPROPS): PidTagMessageCodepage wins over PidTagInternetCodepage
_TAG_MESSAGE_CP = 0x3FFD0003
_TAG_INTERNET_CP = 0x3FDE0003


def _declared_codepage(cfb: CfbFile, origin: str) -> int | None:
    """Codepage NUMBER from the top-level fixed-width property stream,
    or None. The stream is a 32-byte header (top level) then 16-byte
    entries: tag(4) + flags(4) + value(8) — PtypInteger32 values sit in
    the low 4 bytes (MS-OXMSG §2.4). Resolution to a codec happens
    LAZILY at the first ANSI stream that needs it — a pure-unicode
    message with an exotic declared codepage must keep decoding (the
    r15 review regression)."""
    import struct

    try:
        raw = cfb.read_stream("__properties_version1.0")
    except ValueError:
        return None
    cp = None
    for off in range(32, len(raw) - 15, 16):
        (tag,) = struct.unpack_from("<I", raw, off)
        if tag == _TAG_MESSAGE_CP:
            (cp,) = struct.unpack_from("<I", raw, off + 8)
            break  # the message codepage is authoritative
        if tag == _TAG_INTERNET_CP and cp is None:
            (cp,) = struct.unpack_from("<I", raw, off + 8)
    return cp or None


def looks_like_msg(cfb: CfbFile) -> bool:
    """MS-OXMSG marker: the fixed-width property stream at the root (the
    one stream every .msg writer emits)."""
    return any(
        e.type == 2 and e.path == "__properties_version1.0"
        for e in cfb.entries
    )


def _read_unicode(
    cfb: CfbFile, base: str, prop: str, origin: str, codec: str | None = None
) -> str | None:
    """Property ``prop`` under ``base`` (empty = root): the ``001F``
    stream decoded strictly; None when absent. A ``001E`` (ANSI) twin
    decodes strictly in the message's DECLARED codepage when the
    property stream carries one (``codec``), else refuses by name."""
    prefix = f"{base}/" if base else ""
    name = f"{prefix}__substg1.0_{prop}{_T_UNICODE}"
    try:
        raw = cfb.read_stream(name)
    except ValueError:
        raw = None
    if raw is None:
        # only when NO unicode stream exists does the ANSI twin speak —
        # a dual-write's 001E copy is the lossy transcoding, 001F is
        # authoritative (r15 review)
        name8 = f"{prefix}__substg1.0_{prop}{_T_STRING8}"
        try:
            raw8 = cfb.read_stream(name8)
        except ValueError:
            return None
        if codec is None:
            raise NotImplementedError(
                f"msg {origin}: property {prop} is an ANSI string "
                "(PtypString8) and the property stream declares no "
                "codepage (PidTagMessageCodepage/PidTagInternetCodepage)"
                " — refusing rather than guessing"
            )
        from attic.operators.textcodec import codepage_codec, strict_decode

        # codec is the raw declared codepage NUMBER; resolve it only
        # here, at the first ANSI stream that needs it
        name = codepage_codec(codec, origin, "msg")
        return strict_decode(
            raw8, name, origin, f"ANSI property {prop}", "msg"
        ).rstrip("\x00")
    if len(raw) % 2:
        raise ValueError(
            f"msg {origin}: unicode property {prop} has odd byte "
            f"length {len(raw)}"
        )
    try:
        return raw.decode("utf-16-le").rstrip("\x00")
    except UnicodeDecodeError as exc:
        raise ValueError(
            f"msg {origin}: unicode property {prop} byte {exc.start} is "
            "not valid UTF-16LE"
        ) from None


def _substorages(cfb: CfbFile, prefix: str) -> list:
    """Top-level storages with the given prefix, in index order (the
    ``#XXXXXXXX`` suffix is uppercase hex by spec — sorted lexically ==
    sorted numerically at fixed width)."""
    return sorted(
        e.path
        for e in cfb.entries
        if e.type == 1 and "/" not in e.path and e.path.startswith(prefix)
    )


def msg_to_text(payload: bytes, origin: str = "<bytes>") -> str:
    """Subject / sender / recipients / body as normalized lines."""
    return _extract(parse_cfb(payload, origin), origin)[0]


def _extract(cfb: CfbFile, origin: str) -> tuple:
    """(normalized text, n_recipients, n_attachments) — ONE parse; the
    census rides this so a payload is never parsed twice."""
    from attic.operators.office_text import _normalize

    if not looks_like_msg(cfb):
        raise ValueError(
            f"msg {origin}: compound file has no __properties_version1.0 "
            "stream (not an MS-OXMSG message)"
        )
    codec = _declared_codepage(cfb, origin)
    lines = []
    subject = _read_unicode(cfb, "", _P_SUBJECT, origin, codec)
    if subject:
        lines.append(subject)
    sender = _read_unicode(cfb, "", _P_SENDER_NAME, origin, codec)
    if sender:
        lines.append(sender)
    recips = _substorages(cfb, _RECIP_PREFIX)
    for r in recips:
        dn = _read_unicode(cfb, r, _P_DISPLAY_NAME, origin, codec)
        if dn:
            lines.append(dn)
    body = _read_unicode(cfb, "", _P_BODY, origin, codec)
    if body is None:
        # RTF-only body (no plain-text 0x1000 twin): decompress the
        # LZFu stream (MS-OXRTFCP, attic/operators/lzfu.py — r16, closing the
        # r15 by-name refusal) and extract through the RTF extractor
        rtf_name = f"__substg1.0_{_P_RTF_BODY}0102"
        # existence from the directory, NOT a swallowed read error — a
        # present-but-corrupt stream (truncated FAT chain) must stay
        # loud, not read as "no RTF body" (r16 review)
        has_rtf = any(
            e.type == 2 and e.path == rtf_name for e in cfb.entries
        )
        if has_rtf:
            from attic.operators.lzfu import decompress_lzfu
            from attic.operators.rtf_text import rtf_to_text

            raw_rtf = cfb.read_stream(rtf_name)
            body = rtf_to_text(decompress_lzfu(raw_rtf, origin), origin)
            lines.append(body)
    else:
        lines.append(body)
    n_attach = len(_substorages(cfb, _ATTACH_PREFIX))
    return _normalize("\n".join(lines)), len(recips), n_attach


def msg_meta(payload: bytes, origin: str = "<bytes>") -> dict:
    """Census facts: recipient/attachment counts + extracted chars."""
    text, n_recips, n_attach = _extract(parse_cfb(payload, origin), origin)
    return {
        "n_recipients": n_recips,
        "n_attachments": n_attach,
        "n_chars": len(text),
    }


# --------------------------------------------------------------- writer


def write_msg(
    subject: str,
    sender: str,
    recipients: list,
    body: str,
    attachments: int = 0,
    rtf_only: bool = False,
) -> bytes:
    """Deterministic minimal unicode ``.msg`` — the production writer
    closing the round trip (``msg_to_text(write_msg(...))`` recovers the
    fields; pinned by test). Property streams carry exactly the fields
    the extractor reads; the fixed-width property stream is a minimal
    valid header (counts only — enough for every reader that, like this
    module, walks the named streams). ``rtf_only=True`` stores the body
    as a PidTagRtfCompressed LZFu stream (``lzfu.compress_lzfu`` over a
    minimal RTF wrapper) with NO plain-text twin — the Outlook
    internal-mail shape, closing the r16 round trip from the writer
    side (the body must round-trip RTF escaping: ``\\ { }``)."""
    import struct

    from attic.operators.cfb import write_cfb

    def u(prop: str, s: str) -> tuple:
        return f"__substg1.0_{prop}{_T_UNICODE}", s.encode("utf-16-le")

    streams: dict = dict([u(_P_SUBJECT, subject), u(_P_SENDER_NAME, sender)])
    if rtf_only:
        from attic.operators.lzfu import compress_lzfu

        parts = []
        for ch in body:
            cp = ord(ch)
            if ch in "\\{}":
                parts.append("\\" + ch)
            elif ch == "\n":
                parts.append("\\par ")
            elif cp < 128:
                parts.append(ch)
            elif cp <= 0xFFFF:  # \uN is SIGNED 16-bit per the RTF spec
                parts.append(f"\\u{cp - 0x10000 if cp > 0x7FFF else cp}?")
            else:  # astral: UTF-16 surrogate pair, each half signed
                v = cp - 0x10000
                hi, lo = 0xD800 + (v >> 10), 0xDC00 + (v & 0x3FF)
                parts.append(f"\\u{hi - 0x10000}?\\u{lo - 0x10000}?")
        rtf = ("{\\rtf1\\ansi " + "".join(parts) + "}").encode("ascii")
        streams[f"__substg1.0_{_P_RTF_BODY}0102"] = compress_lzfu(rtf)
    else:
        streams.update([u(_P_BODY, body)])
    # top-level fixed header: reserved(8) + nextRecipId + nextAttachId +
    # recipCount + attachCount + reserved(8) (MS-OXMSG §2.4.1)
    streams["__properties_version1.0"] = (
        b"\x00" * 8
        + struct.pack("<IIII", len(recipients), attachments,
                      len(recipients), attachments)
        + b"\x00" * 8
    )
    for i, name in enumerate(recipients):
        base = f"{_RECIP_PREFIX}{i:08X}"
        k, v = u(_P_DISPLAY_NAME, name)
        streams[f"{base}/{k}"] = v
        streams[f"{base}/__properties_version1.0"] = b"\x00" * 8
    for i in range(attachments):
        base = f"{_ATTACH_PREFIX}{i:08X}"
        k, v = u(_P_ATTACH_LONG_NAME, f"att{i}.bin")
        streams[f"{base}/{k}"] = v
        streams[f"{base}/__properties_version1.0"] = b"\x00" * 8
    return write_cfb(streams)
