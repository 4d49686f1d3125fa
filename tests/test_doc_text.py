"""CFB container + legacy .doc extraction tests.

Fixtures are REAL compound files built by an independent test-side
encoder (`_make_cfb` below — header, DIFAT, FAT, directory red-black
siblings, miniFAT + ministream), and real WordDocument/Table streams
with hand-laid FIBs and piece tables — the decoder is pinned against
bytes it never wrote, per the repo's codec discipline."""

from __future__ import annotations

import struct

import pytest

from attic.operators.cfb import (
    CFB_MAGIC,
    cfb_subformat,
    looks_like_cfb,
    parse_cfb,
)
from attic.operators.doc_text import (
    doc_meta,
    doc_text_frame,
    doc_to_text,
)

_FREE = 0xFFFFFFFF
_EOC = 0xFFFFFFFE
_FATSECT = 0xFFFFFFFD
_NOSTREAM = 0xFFFFFFFF

SS = 512  # v3 sector size
MS = 64  # mini sector size


def _pad(b: bytes, unit: int) -> bytes:
    r = len(b) % unit
    return b if r == 0 else b + b"\x00" * (unit - r)


def _dir_entry(name, etype, start, size, left=_NOSTREAM, right=_NOSTREAM,
               child=_NOSTREAM) -> bytes:
    raw = name.encode("utf-16-le")
    assert len(raw) <= 62
    e = bytearray(128)
    e[: len(raw)] = raw
    struct.pack_into("<H", e, 64, len(raw) + 2)
    e[66] = etype
    e[67] = 1  # black
    struct.pack_into("<III", e, 68, left, right, child)
    struct.pack_into("<I", e, 116, start)
    struct.pack_into("<Q", e, 120, size)
    return bytes(e)


def _make_cfb(streams: dict, cutoff: int = 4096) -> bytes:
    """Flat (top-level streams only) v3 compound file. Streams smaller
    than the cutoff land in the ministream; siblings form a
    right-leaning chain off the root's child."""
    names = list(streams)
    mini = {n: v for n, v in streams.items() if len(v) < cutoff}
    big = {n: v for n, v in streams.items() if len(v) >= cutoff}

    # ministream + miniFAT
    ministream = b""
    mini_start: dict = {}
    minifat: list = []
    for n, v in mini.items():
        chunks = _pad(v, MS)
        first = len(minifat)
        nsec = len(chunks) // MS
        mini_start[n] = first if nsec else _EOC
        for i in range(nsec):
            minifat.append(first + i + 1 if i < nsec - 1 else _EOC)
        ministream += chunks
    minifat_blob = _pad(
        b"".join(struct.pack("<I", x) for x in minifat), SS
    )

    # directory: root (0) then one entry per stream, right-sibling chain
    entries = []
    sector_payloads: list = []  # (kind, blob) in on-disk order
    # plan sector ids AFTER the directory: we lay out
    # [dir][minifat][ministream][big...][fat]
    dir_count_placeholder = None  # filled below

    # first pass: sizes
    n_dir_entries = 1 + len(names)
    dir_blob_len = ((n_dir_entries * 128 + SS - 1) // SS) * SS
    n_dir = dir_blob_len // SS
    n_minifat = len(minifat_blob) // SS if minifat else 0
    ministream_blob = _pad(ministream, SS)
    n_ministream = len(ministream_blob) // SS if ministream else 0
    big_blobs = {n: _pad(v, SS) for n, v in big.items()}
    n_big = sum(len(b) // SS for b in big_blobs.values())
    n_data = n_dir + n_minifat + n_ministream + n_big
    per = SS // 4
    n_fat = 0
    while n_fat * per < n_data + n_fat:
        n_fat += 1

    # sector id assignment
    dir_first = 0
    minifat_first = n_dir if n_minifat else _EOC
    ministream_first = n_dir + n_minifat if n_ministream else _EOC
    big_first: dict = {}
    at = n_dir + n_minifat + n_ministream
    for n, b in big_blobs.items():
        big_first[n] = at
        at += len(b) // SS
    fat_first = at

    fat = [_FREE] * (n_fat * per)

    def chain(first, nsec):
        for i in range(nsec):
            fat[first + i] = first + i + 1 if i < nsec - 1 else _EOC

    chain(dir_first, n_dir)
    if n_minifat:
        chain(minifat_first, n_minifat)
    if n_ministream:
        chain(ministream_first, n_ministream)
    for n, b in big_blobs.items():
        chain(big_first[n], len(b) // SS)
    for i in range(n_fat):
        fat[fat_first + i] = _FATSECT

    # directory entries
    root = _dir_entry(
        "Root Entry", 5,
        ministream_first if n_ministream else _EOC,
        len(ministream),
        child=1 if names else _NOSTREAM,
    )
    entries.append(root)
    for i, n in enumerate(names):
        right = i + 2 if i + 1 < len(names) else _NOSTREAM
        if n in mini:
            start = mini_start[n]
        else:
            start = big_first[n]
        entries.append(_dir_entry(n, 2, start, len(streams[n]), right=right))
    dir_blob = _pad(b"".join(entries), SS)

    # header
    h = bytearray(512)
    h[:8] = CFB_MAGIC
    struct.pack_into("<H", h, 24, 0x3E)  # minor
    struct.pack_into("<H", h, 26, 3)  # major
    struct.pack_into("<H", h, 28, 0xFFFE)
    struct.pack_into("<H", h, 30, 9)
    struct.pack_into("<H", h, 32, 6)
    struct.pack_into("<I", h, 44, n_fat)
    struct.pack_into("<I", h, 48, dir_first)
    struct.pack_into("<I", h, 56, cutoff)
    struct.pack_into("<I", h, 60, minifat_first)
    struct.pack_into("<I", h, 64, n_minifat)
    struct.pack_into("<I", h, 68, _EOC)  # no DIFAT chain
    struct.pack_into("<I", h, 72, 0)
    for i in range(109):
        struct.pack_into(
            "<I", h, 76 + 4 * i, fat_first + i if i < n_fat else _FREE
        )

    fat_blob = b"".join(struct.pack("<I", x) for x in fat)
    body = dir_blob + minifat_blob + ministream_blob
    for b in big_blobs.values():
        body += b
    body += fat_blob
    return bytes(h) + body


# ----------------------------------------------------------- doc builders


def _fib(ccp_text, fc_clx, lcb_clx, nfib=0x00C1, flags=0x0200) -> bytearray:
    fib = bytearray(1024)
    struct.pack_into("<H", fib, 0, 0xA5EC)
    struct.pack_into("<H", fib, 2, nfib)
    struct.pack_into("<H", fib, 10, flags)
    struct.pack_into("<i", fib, 0x4C, ccp_text)
    struct.pack_into("<I", fib, 0x1A2, fc_clx)
    struct.pack_into("<I", fib, 0x1A6, lcb_clx)
    return fib


def _make_doc(pieces, flags=0x0200, nfib=0x00C1, prc=b"",
              extra_streams=None) -> bytes:
    """pieces: list of (text, one_byte). Text bytes land after the FIB
    in the WordDocument stream; the piece table goes in 1Table/0Table
    per the flags bit."""
    ccp = sum(len(t) for t, _ in pieces)
    # fcClx = 0: the Clx (Prc blocks + Pcdt) starts the table stream
    wd = _fib(ccp, 0, 0, nfib=nfib, flags=flags)
    cps = [0]
    pcds = []
    for text, one_byte in pieces:
        off = len(wd)
        if one_byte:
            wd += text.encode("cp1252")
            fc_raw = 0x40000000 | (off * 2)
        else:
            wd += text.encode("utf-16-le")
            fc_raw = off
        cps.append(cps[-1] + len(text))
        pcds.append(struct.pack("<HIH", 0, fc_raw, 0))
    plc = b"".join(struct.pack("<i", c) for c in cps) + b"".join(pcds)
    clx = prc + b"\x02" + struct.pack("<I", len(plc)) + plc
    wd2 = bytes(wd)
    # fix lcbClx now that we know it; fcClx points at the Clx start
    wd2 = bytearray(wd2)
    struct.pack_into("<I", wd2, 0x1A6, len(clx))
    table_name = "1Table" if flags & 0x0200 else "0Table"
    streams = {"WordDocument": bytes(wd2), table_name: clx}
    streams.update(extra_streams or {})
    return _make_cfb(streams)


# ------------------------------------------------------------- container


def test_cfb_round_trip_mini_and_big():
    big = bytes(range(256)) * 32  # 8192 B -> FAT domain
    streams = {"small": b"hello mini stream", "Large": big,
               "empty?": b"", "ué": b"x" * 100}
    data = _make_cfb(streams)
    cfb = parse_cfb(data, "t")
    got = {p: cfb.read_stream(p) for p in cfb.stream_paths()}
    assert got == streams
    assert looks_like_cfb(data)
    assert not looks_like_cfb(b"PK\x03\x04")


def test_cfb_guards_are_loud():
    with pytest.raises(ValueError, match="not a compound file"):
        parse_cfb(b"nope" * 200, "t")
    with pytest.raises(ValueError, match="shorter than the 512-byte"):
        parse_cfb(CFB_MAGIC + b"\x00" * 16, "t")
    base = bytearray(_make_cfb({"s": b"x" * 5000}))
    bad = bytearray(base)
    struct.pack_into("<H", bad, 28, 0xFEFF)
    with pytest.raises(ValueError, match="byte-order"):
        parse_cfb(bytes(bad), "t")
    bad = bytearray(base)
    struct.pack_into("<H", bad, 26, 7)
    with pytest.raises(ValueError, match="major version 7"):
        parse_cfb(bytes(bad), "t")
    bad = bytearray(base)
    struct.pack_into("<H", bad, 30, 12)  # v3 with v4 shift
    with pytest.raises(ValueError, match="sector shift"):
        parse_cfb(bytes(bad), "t")
    # FAT-count bomb: claims more FAT sectors than the file holds
    bad = bytearray(base)
    struct.pack_into("<I", bad, 44, 1 << 30)
    with pytest.raises(ValueError, match="FAT sectors"):
        parse_cfb(bytes(bad), "t")


def _fat_entry_offset(data: bytes, sid: int) -> int:
    """Byte offset of FAT[sid] under the encoder's deterministic layout
    (the single FAT sector is last)."""
    n_sectors = (len(data) - 512) // SS
    return 512 + (n_sectors - 1) * SS + 4 * sid


def test_cfb_chain_loop_refuses():
    data = bytearray(_make_cfb({"s": b"y" * 5000}))
    entry = next(
        e for e in parse_cfb(bytes(data), "t").entries if e.path == "s"
    )
    # point the stream's first FAT link back at itself
    struct.pack_into(
        "<I", data, _fat_entry_offset(data, entry.start), entry.start
    )
    with pytest.raises(ValueError, match="loops"):
        parse_cfb(bytes(data), "t").read_stream("s")


def test_cfb_short_chain_refuses():
    data = bytearray(_make_cfb({"s": b"z" * 5000}))
    entry = next(
        e for e in parse_cfb(bytes(data), "t").entries if e.path == "s"
    )
    # truncate the chain: first sector -> ENDOFCHAIN, size still 5000
    struct.pack_into("<I", data, _fat_entry_offset(data, entry.start), _EOC)
    with pytest.raises(ValueError, match="holds .* stream declares"):
        parse_cfb(bytes(data), "t").read_stream("s")


def test_cfb_subformat_classification():
    assert cfb_subformat(parse_cfb(
        _make_cfb({"WordDocument": b"\x00" * 100}), "t")) == "doc"
    assert cfb_subformat(parse_cfb(
        _make_cfb({"Workbook": b"\x00" * 100}), "t")) == "xls"
    assert cfb_subformat(parse_cfb(
        _make_cfb({"Book": b"\x00"}), "t")) == "xls"
    assert cfb_subformat(parse_cfb(
        _make_cfb({"PowerPoint Document": b"\x00"}), "t")) == "ppt"
    assert cfb_subformat(parse_cfb(
        _make_cfb({"Contents": b"\x00"}), "t")) == "cfb"


# ------------------------------------------------------------------- doc


def test_doc_single_compressed_piece():
    data = _make_doc([("Hello, legacy Word.\r", True)])
    assert doc_to_text(data, "t") == "Hello, legacy Word.\n"


def test_doc_multi_piece_mixed_encodings():
    # a fastsaved-style document: cp1252 piece, then UTF-16 pieces with
    # characters cp1252 cannot carry
    # the cp1252 piece carries smart quotes — bytes 0x93/0x94 on disk,
    # exactly the spec's one-byte mapping rows
    pieces = [
        ("First piece “quoted”.\r", True),
        ("Unicode piece: 日本語.\r", False),
        ("café — dash", False),
    ]
    data = _make_doc(pieces)
    assert doc_to_text(data, "t") == (
        "First piece “quoted”.\n"
        "Unicode piece: 日本語.\ncafé — dash"
    )


def test_doc_0table_selection():
    data = _make_doc([("zero table\r", True)], flags=0x0000)
    assert doc_to_text(data, "t") == "zero table\n"


def test_doc_prc_blocks_are_skipped():
    prc = b"\x01" + struct.pack("<h", 4) + b"\xde\xad\xbe\xef"
    data = _make_doc([("after a Prc\r", True)], prc=prc * 2)
    assert doc_to_text(data, "t") == "after a Prc\n"


def test_doc_field_instruction_skipped_result_kept():
    # { HYPERLINK "http://x" } -> shown text only
    text = "See \x13 HYPERLINK http://example.com \x14the site\x15 now.\r"
    data = _make_doc([(text, True)])
    assert doc_to_text(data, "t") == "See the site now.\n"


def test_doc_table_cell_marks_and_breaks():
    text = "a\x07b\x07\x07second row\x07\x07line\x0bbreak\x0cpage"
    data = _make_doc([(text, True)])
    assert doc_to_text(data, "t") == (
        "a\tb\t\tsecond row\t\tline\nbreak\npage"
    )


def test_doc_ccp_text_bounds_main_document():
    # footnote text lives past ccpText and must not extract
    data = _make_doc([("main\r", True), ("footnote\r", True)])
    # shrink ccpText to the first piece only
    cfb = parse_cfb(data, "t")
    wd = bytearray(cfb.read_stream("WordDocument"))
    struct.pack_into("<i", wd, 0x4C, 5)
    rebuilt = _make_cfb({
        "WordDocument": bytes(wd), "1Table": cfb.read_stream("1Table")})
    assert doc_to_text(rebuilt, "t") == "main\n"


def test_doc_refusals_by_name():
    with pytest.raises(NotImplementedError, match="encrypted"):
        doc_to_text(_make_doc([("x", True)], flags=0x0300), "t")
    with pytest.raises(NotImplementedError, match="nFib"):
        doc_to_text(_make_doc([("x", True)], nfib=0x0065), "t")
    with pytest.raises(ValueError, match="route it to xls_text"):
        doc_to_text(_make_cfb({"Workbook": b"\x00" * 64}), "t")
    with pytest.raises(ValueError, match="route it to ppt_text"):
        doc_to_text(_make_cfb({"PowerPoint Document": b"\x00"}), "t")
    with pytest.raises(NotImplementedError, match="generic OLE"):
        doc_to_text(_make_cfb({"Whatever": b"\x00"}), "t")


def test_doc_malformed_structures_refuse_with_offsets():
    good = _make_doc([("ok\r", True)])
    cfb = parse_cfb(good, "t")
    wd = bytearray(cfb.read_stream("WordDocument"))
    tbl = cfb.read_stream("1Table")

    bad_ident = bytearray(wd)
    struct.pack_into("<H", bad_ident, 0, 0x1234)
    with pytest.raises(ValueError, match="wIdent"):
        doc_to_text(_make_cfb(
            {"WordDocument": bytes(bad_ident), "1Table": tbl}), "t")

    # lcbClx overrunning the table stream
    bad_lcb = bytearray(wd)
    struct.pack_into("<I", bad_lcb, 0x1A6, len(tbl) + 99)
    with pytest.raises(ValueError, match="overruns the .*table stream"):
        doc_to_text(_make_cfb(
            {"WordDocument": bytes(bad_lcb), "1Table": tbl}), "t")

    # PlcPcd length not 12n+4
    bad_tbl = bytearray(tbl)
    struct.pack_into("<I", bad_tbl, 1, 13)
    with pytest.raises(ValueError, match="12n"):
        doc_to_text(_make_cfb(
            {"WordDocument": bytes(wd), "1Table": bytes(bad_tbl)}), "t")

    # a byte cp1252 leaves undefined (0x81) inside a one-byte piece:
    # patch it into the stream post-build (no encoder can produce it)
    vic = parse_cfb(_make_doc([("bad X byte", True)]), "t")
    wd_bad = vic.read_stream("WordDocument").replace(b"bad X", b"bad \x81")
    with pytest.raises(ValueError, match="is not a valid one-byte"):
        doc_to_text(_make_cfb(
            {"WordDocument": wd_bad, "1Table": vic.read_stream("1Table")}),
            "t")

    # missing table stream
    with pytest.raises(ValueError, match="1Table"):
        doc_to_text(_make_cfb({"WordDocument": bytes(wd)}), "t")


def test_doc_meta_and_census_routing():
    from attic.operators.media_census import classify_media

    doc = _make_doc([("census text\r", True)])
    m = doc_meta(doc, "t")
    assert m["subformat"] == "doc" and m["n_chars"] == len("census text\n")
    assert m["n_streams"] == 2

    row = classify_media(doc, "t")
    assert (row["family"], row["format"]) == ("document", "doc")
    assert "12 chars" in row["detail"]

    # a Workbook stream of garbage BIFF is recognized as xls and folds
    # into an error row through the strict BIFF parse (census policy);
    # real .xls extraction is covered in tests/test_xls_text.py
    xls = _make_cfb({"Workbook": b"\x00" * 64})
    row = classify_media(xls, "t")
    assert row["family"] == "error" and "BOF" in row["detail"]

    # garbage PowerPoint Document bytes fold into an error row through
    # the strict ppt parse; real .ppt extraction is covered in
    # tests/test_ppt_text.py
    ppt = _make_cfb({"PowerPoint Document": b"\x00" * 64})
    row = classify_media(ppt, "t")
    assert row["family"] == "error" and "Current User" in row["detail"]

    generic = _make_cfb({"Custom": b"\x00" * 64})
    row = classify_media(generic, "t")
    assert (row["family"], row["format"]) == ("document", "cfb")

    # corrupt compound file folds into an error row, never raises
    bad = bytearray(doc)
    struct.pack_into("<H", bad, 28, 0xFEFF)
    row = classify_media(bytes(bad), "t")
    assert row["family"] == "error" and "byte-order" in row["detail"]


def test_doc_text_frame_through_spark(spark):
    payloads = [
        (1, _make_doc([("spark doc one\r", True)])),
        (2, _make_doc([("two — unicode", False)])),
    ]
    df = spark.createDataFrame(payloads, "doc_id long, payload binary")
    got = {r["doc_id"]: (r["text"], r["n_chars"])
           for r in doc_text_frame(df).collect()}
    assert got == {
        1: ("spark doc one\n", 14),
        2: ("two — unicode", 13),
    }


# ------------------------------------------------- production writers


def test_write_cfb_round_trip():
    from attic.operators.cfb import write_cfb

    streams = {
        "tiny": b"t",
        "WordDocument": b"\x01" * 5000,
        "zz big": bytes(range(256)) * 64,
        "Ünicode": "texte café".encode("utf-8"),
        "empty": b"",
        "a": b"x" * 63,
        "bb": b"y" * 64,
        "ccc": b"z" * 65,
    }
    data = write_cfb(streams)
    cfb = parse_cfb(data, "t")
    assert {p: cfb.read_stream(p) for p in cfb.stream_paths()} == streams
    # deterministic: same input, same bytes
    assert write_cfb(streams) == data


def test_write_cfb_guards():
    from attic.operators.cfb import write_cfb

    with pytest.raises(ValueError, match="invalid"):
        write_cfb({"": b"x"})
    # r15: nested paths are supported; their GUARDS are new — an empty
    # segment, a path through a stream, and a storage/stream collision
    with pytest.raises(ValueError, match="invalid"):
        write_cfb({"a//b": b"x"})
    with pytest.raises(ValueError, match="crosses the stream"):
        write_cfb({"a": b"x", "a/b": b"y"})
    with pytest.raises(ValueError, match="collides"):
        write_cfb({"a/b": b"x", "a": b"y"})
    with pytest.raises(ValueError, match="109 header-DIFAT cap"):
        write_cfb({"huge": b"\x00" * (8 << 20)})


def test_write_cfb_nested_storages_round_trip():
    """r15: '/'-separated paths create real storages; the reader's tree
    walk recovers every stream byte-exactly and the storages exist."""
    from attic.operators.cfb import parse_cfb, write_cfb

    streams = {
        "top": b"hello" * 300,
        "stor/leaf1": b"a" * 10,
        "stor/leaf2": b"b" * 5000,  # big stream inside a storage
        "a/b/c": b"deep",
    }
    cfb = parse_cfb(write_cfb(streams))
    got = {e.path: cfb.read_stream(e.path) for e in cfb.entries if e.type == 2}
    assert got == streams
    assert {e.path for e in cfb.entries if e.type == 1} == {"stor", "a", "a/b"}
    assert write_cfb(streams) == write_cfb(streams)  # deterministic


def test_write_doc_round_trip():
    from attic.operators.doc_text import write_doc

    # cp1252 path (incl. the 0x93 mapping rows) and the utf-16 path
    for paragraphs in (
        ["Hello, legacy Word.", "Second paragraph with “quotes”."],
        ["Unicode 日本語 paragraph", "plain one"],
        ["tab\tseparated"],
    ):
        data = write_doc(paragraphs)
        assert doc_to_text(data, "t") == "\n".join(paragraphs) + "\n"
        m = doc_meta(data, "t")
        assert m["subformat"] == "doc"
    with pytest.raises(ValueError, match="control character"):
        write_doc(["bad\x07mark"])


def test_write_doc_astral_chars_round_trip():
    """CPs count UTF-16 code units (Word's UCS-2 heritage): astral
    characters are TWO CPs each, and the writer must count them so —
    character counting silently truncated the document tail."""
    from attic.operators.doc_text import write_doc

    paragraphs = ["\U0001F600\U0001F600 start", "tail paragraph"]
    assert doc_to_text(write_doc(paragraphs), "t") == (
        "\n".join(paragraphs) + "\n"
    )


def test_cfb_deep_sibling_chain_is_not_a_recursion_error():
    """A degenerate right-sibling linked list (what simplistic CFB
    writers emit) far deeper than Python's recursion limit must parse —
    or refuse through this module's ValueErrors — never RecursionError,
    which would escape the census error fold and kill the Spark task."""
    streams = {f"s{i:04d}": bytes([i % 256]) * 4 for i in range(1500)}
    data = _make_cfb(streams)  # the test encoder builds sibling CHAINS
    cfb = parse_cfb(data, "t")
    assert len(cfb.stream_paths()) == 1500
    assert cfb.read_stream("s0007") == bytes([7]) * 4


def test_doc_truncated_pcdt_header_is_a_valueerror():
    """A Clx whose Pcdt marker sits within 4 bytes of the table end:
    struct.error is NOT a ValueError and would escape the census fold."""
    wd = bytes(_fib(1, 0, 2))
    # table = Pcdt marker + ONE length byte, lcbClx covers exactly that
    with pytest.raises(ValueError, match="inside the Pcdt header"):
        doc_to_text(_make_cfb(
            {"WordDocument": wd, "1Table": b"\x02\x0c"}), "t")


def test_cfb_read_chain_cost_is_bounded_by_declared_size():
    """A small-size entry pointing at a long chain reads O(size), not
    O(chain): the walk must stop once the declared size is covered."""
    data = bytearray(_make_cfb({"s": b"x" * 5000}))
    cfb = parse_cfb(bytes(data), "t")
    entry = next(e for e in cfb.entries if e.path == "s")
    # shrink the declared size to the cutoff (stays FAT-domain); the
    # chain still spans ten sectors but only eight may be read
    for i in range(1, len(cfb.entries) + 1):
        off = 512 + 128 * i
        name_len = int.from_bytes(data[off + 64 : off + 66], "little")
        if data[off : off + name_len - 2].decode("utf-16-le") == "s":
            struct.pack_into("<Q", data, off + 120, 4096)
            break
    got = parse_cfb(bytes(data), "t").read_stream("s")
    assert got == b"x" * 4096


def test_cfb_v4_4096_byte_sectors_decode():
    """Version-4 compound files address sector i at (i+1)*4096 — the
    header's 512 bytes plus zero fill occupy the WHOLE first 4096-byte
    slot. A hand-built v4 container with a 2-sector FAT-domain stream
    must round-trip (the v3-style '512 + i*sector' arithmetic would read
    garbage)."""
    ss = 4096
    payload = bytes(range(256)) * 20  # 5120 B -> 2 sectors, >= cutoff
    pay_pad = _pad(payload, ss)
    # sectors: 0 = directory, 1-2 = stream, 3 = FAT
    root = _dir_entry("Root Entry", 5, _EOC, 0, child=1)
    entry = _dir_entry("S", 2, 1, len(payload))
    dir_blob = _pad(root + entry, ss)
    per = ss // 4
    fat = [_EOC, 2, _EOC, _FATSECT] + [_FREE] * (per - 4)
    fat_blob = b"".join(struct.pack("<I", x) for x in fat)
    h = bytearray(512)
    h[:8] = CFB_MAGIC
    struct.pack_into("<H", h, 24, 0x3E)
    struct.pack_into("<H", h, 26, 4)  # major version 4
    struct.pack_into("<H", h, 28, 0xFFFE)
    struct.pack_into("<H", h, 30, 12)  # 4096-byte sectors
    struct.pack_into("<H", h, 32, 6)
    struct.pack_into("<I", h, 40, 1)  # v4: directory sector count
    struct.pack_into("<I", h, 44, 1)  # one FAT sector
    struct.pack_into("<I", h, 48, 0)  # directory at sector 0
    struct.pack_into("<I", h, 56, 4096)
    struct.pack_into("<I", h, 60, _EOC)
    struct.pack_into("<I", h, 68, _EOC)
    struct.pack_into("<I", h, 76, 3)  # DIFAT[0] -> FAT sector 3
    for i in range(1, 109):
        struct.pack_into("<I", h, 76 + 4 * i, _FREE)
    data = bytes(h) + b"\x00" * (ss - 512) + dir_blob + pay_pad + fat_blob
    cfb = parse_cfb(data, "t")
    assert cfb.sector_size == 4096 and cfb.major == 4
    assert cfb.read_stream("S") == payload


def test_cfb_collation_is_utf16_code_unit_order():
    """ADVICE r14: MS-CFB orders directory names by UTF-16 CODE-UNIT
    length then uppercased code-unit comparison. Three traps pinned:
    (1) an astral char counts TWO units, so it sorts as longer than a
    two-BMP-char name of equal Python len; (2) comparison must be
    code-unit order, not the file's little-endian byte order (U+00FF
    sorts before U+0100); (3) round trips still work with such names."""
    from attic.operators.cfb import _collate, parse_cfb, write_cfb

    # (1) length in code units: '𐐷' (U+10437, one astral char) = 2 units,
    # longer than the 1-unit 'z' and equal to 'zz'
    assert _collate("\U00010437")[0] == 2
    assert _collate("z")[0] == 1
    assert sorted(["\U00010437", "z"], key=_collate) == ["z", "\U00010437"]
    # (2) code-unit order, not LE byte order (caseless pair so upper()
    # can't move them): U+00F7 '÷' (LE bytes F7 00) must sort before
    # U+0100 'Ā' (LE bytes 00 01); little-endian byte comparison says
    # the opposite
    assert sorted(["Ā", "÷"], key=_collate) == ["÷", "Ā"]
    # (3) the writer round-trips astral + ordering-sensitive names
    streams = {
        "\U00010437doc": b"astral",
        "÷" + "x": b"f7",
        "Ā" + "x": b"100",
        "plain": b"p",
    }
    got = parse_cfb(write_cfb(streams))
    assert {n: got.read_stream(n) for n in streams} == streams


def test_cfb_collation_is_per_code_unit_uppercase():
    """Review r15: Python's FULL case mapping ('ß' -> 'SS') would change
    the unit sequence and length; MS-CFB uppercases PER CODE UNIT, so a
    unit whose uppercase is not one BMP unit keeps its value."""
    from attic.operators.cfb import _collate, parse_cfb, write_cfb

    lw, key = _collate("ß")
    assert lw == 1 and key == (0x00DF).to_bytes(2, "big")  # NOT b'\x00S\x00S'
    # 'a' uppercases to 'A' (0x41) < 'ß' (0xDF): per-unit order holds
    assert sorted(["ß", "a"], key=_collate) == ["a", "ß"]
    streams = {"ß": b"sharp", "a": b"plain"}
    got = parse_cfb(write_cfb(streams))
    assert {n: got.read_stream(n) for n in streams} == streams


def test_cfb_subformat_msg_marker_is_root_only():
    """Review r15: an embedded Outlook item nested in a generic container
    must NOT classify the container as msg — the extractor requires the
    root marker, and the census would fold the mismatch to error."""
    from attic.operators.cfb import cfb_subformat, parse_cfb, write_cfb
    from attic.operators.media_census import classify_media

    data = write_cfb({
        "SomeData": b"x" * 40,
        "embedded/__properties_version1.0": b"\x00" * 24,
    })
    assert cfb_subformat(parse_cfb(data)) == "cfb"
    row = classify_media(data, "t")
    assert (row["family"], row["format"]) == ("document", "cfb")


from hypothesis import given, settings
from hypothesis import strategies as st


_seg = st.text(
    alphabet=st.characters(min_codepoint=48, max_codepoint=122), min_size=1, max_size=8
)


@settings(max_examples=30, deadline=None)
@given(
    st.dictionaries(
        st.lists(_seg, min_size=1, max_size=3).map(lambda p: "/".join(p)),
        st.binary(min_size=0, max_size=6000),
        min_size=1,
        max_size=12,
    )
)
def test_write_cfb_nested_round_trip_property(streams):
    """r15 writer property: arbitrary path trees round-trip byte-exactly
    through write_cfb/parse_cfb (prefix-collision inputs are rejected by
    the writer's own guards and skipped here)."""
    from attic.operators.cfb import parse_cfb, write_cfb

    # drop inputs where one path is a prefix-storage of another's stream
    paths = set(streams)
    for p in paths:
        parts = p.split("/")
        for i in range(1, len(parts)):
            if "/".join(parts[:i]) in paths:
                return  # writer rejects these loudly; guard-tested elsewhere
    cfb = parse_cfb(write_cfb(streams))
    got = {e.path: cfb.read_stream(e.path) for e in cfb.entries if e.type == 2}
    assert got == streams
