"""TIFF IFD walk + uncompressed baseline decode: hand-built files in
both byte orders, strip validation, named refusals."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hbase_observer_es_spark.operators.tiff import (
    decode_tiff,
    looks_like_tiff,
    tiff_meta,
)


def _entry(endian, tag, typ, count, value_bytes) -> bytes:
    assert len(value_bytes) <= 4
    return struct.pack(endian + "HHI", tag, typ, count) + value_bytes.ljust(4, b"\x00")


def _short(endian, tag, v) -> bytes:
    return _entry(endian, tag, 3, 1, struct.pack(endian + "H", v))


def _long(endian, tag, v) -> bytes:
    return _entry(endian, tag, 4, 1, struct.pack(endian + "I", v))


def _tiff(pixels: bytes, w, h, endian="<", photometric=1, spp=1,
          compression=1, next_ifd=0) -> bytes:
    """Header + pixel strip + one IFD (strip offset = 8)."""
    header = (b"II*\x00" if endian == "<" else b"MM\x00*")
    strip_at = 8
    ifd_at = strip_at + len(pixels)
    header += struct.pack(endian + "I", ifd_at)
    entries = [
        _short(endian, 256, w),
        _short(endian, 257, h),
        _short(endian, 258, 8),
        _short(endian, 259, compression),
        _short(endian, 262, photometric),
        _long(endian, 273, strip_at),
        _short(endian, 277, spp),
        _long(endian, 278, h),
        _long(endian, 279, len(pixels)),
    ]
    ifd = struct.pack(endian + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(endian + "I", next_ifd)
    return header + pixels + ifd


def test_meta_both_endians():
    for endian, big in (("<", False), (">", True)):
        data = _tiff(bytes(6), 3, 2, endian=endian)
        m = tiff_meta(data)
        assert m == {
            "width": 3, "height": 2, "bits_per_sample": 8,
            "samples_per_pixel": 1, "compression": "none",
            "photometric": 1, "n_pages": 1, "big_endian": big,
            "bigtiff": False,
        }


def test_gray_decode_both_polarities():
    px = bytes([0, 100, 200, 255])
    img = decode_tiff(_tiff(px, 2, 2, photometric=1))
    assert (img.color_type, img.raw) == (0, px)
    inverted = decode_tiff(_tiff(px, 2, 2, photometric=0))
    assert inverted.raw == bytes([255, 155, 55, 0])  # WhiteIsZero flipped


def test_rgb_decode_and_alpha_drop():
    rgb = bytes([255, 0, 0, 0, 255, 0])
    img = decode_tiff(_tiff(rgb, 2, 1, photometric=2, spp=3))
    assert (img.color_type, img.raw) == (2, rgb)
    rgba = bytes([255, 0, 0, 9, 0, 255, 0, 9])
    img = decode_tiff(_tiff(rgba, 2, 1, photometric=2, spp=4))
    assert img.raw == rgb  # alpha dropped


def test_multipage_counted():
    page1 = _tiff(bytes(4), 2, 2)
    # append a COPY of the first IFD and point page1's next-IFD at it
    second_at = len(page1)
    first_ifd_at = struct.unpack("<I", page1[4:8])[0]
    data = bytearray(page1 + page1[first_ifd_at:])
    next_ptr_at = first_ifd_at + 2 + 9 * 12
    data[next_ptr_at : next_ptr_at + 4] = struct.pack("<I", second_at)
    assert tiff_meta(bytes(data))["n_pages"] == 2


def test_ifd_loop_is_loud():
    data = bytearray(_tiff(bytes(4), 2, 2))
    first_ifd_at = struct.unpack("<I", data[4:8])[0]
    next_ptr_at = first_ifd_at + 2 + 9 * 12
    data[next_ptr_at : next_ptr_at + 4] = struct.pack("<I", first_ifd_at)
    with pytest.raises(ValueError, match=r"IFD chain loops back"):
        tiff_meta(bytes(data))


def test_refusals():
    assert looks_like_tiff(_tiff(bytes(4), 2, 2))
    assert not looks_like_tiff(b"BM\x00\x00")
    with pytest.raises(ValueError, match=r"not a TIFF stream"):
        tiff_meta(b"PK\x03\x04....")
    # BigTIFF decodes since r13 (test_bigtiff_* below); a bad offset
    # size in its header is loud
    with pytest.raises(ValueError, match=r"BigTIFF offset size 0/pad 0"):
        tiff_meta(b"II+\x00" + b"\x00" * 12)
    lzw = _tiff(bytes(4), 2, 2, compression=5)
    assert tiff_meta(lzw)["compression"] == "lzw"
    # LZW decodes for real since r12; garbage declared as LZW is
    # corruption, not a refusal
    with pytest.raises(ValueError, match=r"does not start with CLEAR"):
        decode_tiff(lzw)
    short_strip = _tiff(bytes(3), 2, 2)  # geometry needs 4
    with pytest.raises(ValueError, match=r"strip 0 carries 3 bytes"):
        decode_tiff(short_strip)


def test_composes_with_pixel_stack():
    from attic.operators.imagehash import average_hash
    from hbase_observer_es_spark.operators.png import encode_png

    img = decode_tiff(_tiff(bytes(range(64)), 8, 8))
    assert len(encode_png(img)) > 0
    assert 0 <= average_hash(img) < (1 << 64)


def test_dispatch_and_census_route_tiff():
    from hbase_observer_es_spark.operators.jpeg import decode_image
    from attic.operators.media_census import classify_media

    data = _tiff(bytes(range(64)), 8, 8)
    assert decode_image(data).width == 8
    r = classify_media(data)
    assert (r["family"], r["format"], r["width"], r["n_frames"]) == (
        "image", "tiff-none", 8, 1)
    lzw = _tiff(bytes(4), 2, 2, compression=5)
    assert classify_media(lzw)["format"] == "tiff-lzw"  # surveyed, not erroring


def test_truncation_and_empty_chain_are_valueerrors():
    """Census survival: a 4-byte magic-only payload and a zero first-IFD
    offset must both die as ValueError, never struct.error/StopIteration."""
    from attic.operators.media_census import classify_media

    with pytest.raises(ValueError, match=r"too short for a TIFF header"):
        tiff_meta(b"II*\x00")
    with pytest.raises(ValueError, match=r"no IFD in the chain"):
        decode_tiff(b"II*\x00\x00\x00\x00\x00")
    assert classify_media(b"II*\x00")["family"] == "error"


# ------------------------------------------------------------- LZW (r12)
#
# Test-side TIFF-LZW encoder: an INDEPENDENT implementation of the
# 6.0 §13 encoder side (MSB-first packing, EarlyChange — the encoder
# widens when the next table index reaches 2^w, which a decoder sees as
# widening at 2^w − 1 because its table trails by one entry).


def _lzw_encode_msb(data: bytes) -> bytes:
    bits = []  # (code, width)
    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    bits.append((256, width))  # mandatory leading CLEAR
    w = b""
    for ch in data:
        c = bytes([ch])
        if w + c in table:
            w += c
            continue
        bits.append((table[w], width))
        table[w + c] = next_code
        next_code += 1
        if next_code == (1 << width) and width < 12:
            width += 1
        if next_code == 4094:  # conservative reset before the 12-bit cap
            bits.append((256, width))
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        bits.append((table[w], width))
    bits.append((257, width))  # EOI
    s = "".join(format(c, f"0{wd}b") for c, wd in bits)
    s += "0" * ((8 - len(s) % 8) % 8)
    return bytes(int(s[i : i + 8], 2) for i in range(0, len(s), 8))


def _tiff_lzw(rows: list, w, h, endian="<", spp=1, photometric=1,
              predictor=1, rows_per_strip=None) -> bytes:
    """LZW TIFF with one strip per rows_per_strip rows; predictor 2
    applies horizontal differencing before encoding (what a writer does)."""
    rps = rows_per_strip or h
    header = b"II*\x00" if endian == "<" else b"MM\x00*"
    strips = []
    for s0 in range(0, h, rps):
        chunk = b"".join(rows[s0 : s0 + rps])
        if predictor == 2:
            d = bytearray(chunk)
            rb = w * spp
            for r in range(len(d) // rb):
                base = r * rb
                for i in range(base + rb - 1, base + spp - 1, -1):
                    d[i] = (d[i] - d[i - spp]) & 0xFF
            chunk = bytes(d)
        strips.append(_lzw_encode_msb(chunk))
    pos = 8
    offs, cnts = [], []
    payload = b""
    for s in strips:
        offs.append(pos)
        cnts.append(len(s))
        payload += s
        pos += len(s)
    ifd_at = pos
    header += struct.pack(endian + "I", ifd_at)

    entries = [
        _short(endian, 256, w),
        _short(endian, 257, h),
        _short(endian, 258, 8),
        _short(endian, 259, 5),
        _short(endian, 262, photometric),
        _short(endian, 277, spp),
        _long(endian, 278, rps),
    ]
    if len(strips) == 1:
        entries.insert(5, _long(endian, 273, offs[0]))
        entries.append(_long(endian, 279, cnts[0]))
    else:
        # multi-valued LONG arrays live after the IFD; offsets patched in
        n = len(strips)
        ifd_len = 2 + (len(entries) + 2) * 12 + 4  # +2: tags 273 and 279
        arr1_at = ifd_at + ifd_len
        arr2_at = arr1_at + 4 * n
        entries.insert(5, _entry(endian, 273, 4, n,
                                 struct.pack(endian + "I", arr1_at)))
        entries.append(_entry(endian, 279, 4, n,
                              struct.pack(endian + "I", arr2_at)))
    if predictor == 2:
        entries.append(_short(endian, 317, 2))
        if len(strips) > 1:
            raise NotImplementedError  # keep the fixture simple
    entries.sort(key=lambda e: struct.unpack(endian + "H", e[:2])[0])
    ifd = struct.pack(endian + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(endian + "I", 0)
    tail = b""
    if len(strips) > 1:
        tail = struct.pack(f"{endian}{len(strips)}I", *offs)
        tail += struct.pack(f"{endian}{len(strips)}I", *cnts)
    return header + payload + ifd + tail


def test_lzw_handpacked_golden():
    """'ABABAB' by hand: codes CLEAR,65,66,258,258,EOI all at width 9
    (table never reaches 511) → bit string 100000000 001000001 001000010
    100000010 100000010 100000001 + zero pad = 80 10 48 50 28 14 04."""
    assert _lzw_encode_msb(b"ABABAB") == bytes(
        [0x80, 0x10, 0x48, 0x50, 0x28, 0x14, 0x04]
    )
    from hbase_observer_es_spark.operators.tiff import _lzw_decode_msb

    assert _lzw_decode_msb(_lzw_encode_msb(b"ABABAB"), 6, "t", 0) == b"ABABAB"


def test_lzw_tiff_decodes_gray_and_rgb():
    rows = [bytes([10, 20, 15, 5]), bytes([200, 200, 200, 200])]
    img = decode_tiff(_tiff_lzw(rows, 4, 2))
    assert (img.width, img.height, img.color_type) == (4, 2, 0)
    assert img.raw == b"".join(rows)
    rgb_rows = [bytes(range(12)), bytes(range(100, 112))]
    img = decode_tiff(_tiff_lzw(rgb_rows, 4, 2, spp=3, photometric=2))
    assert (img.color_type, img.raw) == (2, b"".join(rgb_rows))


def test_lzw_tiff_predictor2_and_big_endian():
    rows = [bytes([10, 20, 15, 5, 0, 255, 1, 128])]
    img = decode_tiff(_tiff_lzw(rows, 8, 1, predictor=2))
    assert img.raw == rows[0]
    img = decode_tiff(_tiff_lzw(rows, 8, 1, endian=">", predictor=2))
    assert img.raw == rows[0]
    # rgb predictor differences per-channel, not per-byte
    rgb = [bytes([100, 50, 25, 110, 45, 35, 90, 60, 25])]
    img = decode_tiff(_tiff_lzw(rgb, 3, 1, spp=3, photometric=2, predictor=2))
    assert img.raw == rgb[0]


def test_lzw_tiff_multistrip_independent_streams():
    rows = [bytes([i] * 6) for i in range(4)]
    img = decode_tiff(_tiff_lzw(rows, 6, 4, rows_per_strip=2))
    assert img.raw == b"".join(rows)


def test_lzw_width_growth_round_trip():
    """768 low-entropy-free bytes force >254 dictionary entries — the
    EarlyChange 9→10-bit switch happens mid-strip on both sides."""
    from hbase_observer_es_spark.operators.tiff import _lzw_decode_msb

    data = bytes(range(256)) * 3
    enc = _lzw_encode_msb(data)
    assert _lzw_decode_msb(enc, len(data), "t", 0) == data


def test_lzw_corrupt_streams_fail_loudly():
    from hbase_observer_es_spark.operators.tiff import _lzw_decode_msb

    good = _lzw_encode_msb(b"ABABAB")
    with pytest.raises(ValueError, match=r"does not start with CLEAR"):
        _lzw_decode_msb(b"\x00" + good[1:], 6, "t", 0)
    with pytest.raises(ValueError, match=r"ends without EOI"):
        _lzw_decode_msb(good[:3], 6, "t", 0)
    with pytest.raises(ValueError, match=r"produced 6 of 7"):
        _lzw_decode_msb(good, 7, "t", 0)
    with pytest.raises(ValueError, match=r"inflates past"):
        _lzw_decode_msb(good, 3, "t", 0)


def test_fax_bits_mismatch_is_malformed():
    """CCITT and new-style JPEG decode for real since r13
    (tests/test_ccittfax.py, test_jpeg_in_tiff below) — an 8-bit IFD
    claiming fax compression is malformed. Old-style JPEG (compression
    6) decodes since r16 via tags 513/514 (tests below); a compression-6
    IFD WITHOUT the interchange stream is the TTN2-unimplementable
    strip layout and refuses by name."""
    data = _tiff(bytes(4), 2, 2, compression=3)
    assert tiff_meta(data)["compression"] == "ccitt-g3-fax"
    with pytest.raises(ValueError, match=r"requires 1 bit/sample"):
        decode_tiff(data)
    jp = _tiff(bytes(4), 2, 2, compression=6)
    assert tiff_meta(jp)["compression"] == "old-jpeg"
    with pytest.raises(NotImplementedError, match=r"unimplementable as specified"):
        decode_tiff(jp)


def test_predictor_outside_lzw_refused():
    data = _tiff_lzw([bytes([1, 2])], 2, 1, predictor=2)
    # flip compression 5 -> 1 in the IFD (tag 259 SHORT little-endian)
    patched = data.replace(
        struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 5, 0),
        struct.pack("<HHI", 259, 3, 1) + struct.pack("<HH", 1, 0),
    )
    assert patched != data
    with pytest.raises(ValueError, match=r"predictor 2 outside LZW"):
        decode_tiff(patched)


@given(st.binary(min_size=0, max_size=1500))
@settings(max_examples=40, deadline=None)
def test_lzw_round_trip_property(data):
    from hbase_observer_es_spark.operators.tiff import _lzw_decode_msb

    if not data:
        enc = _lzw_encode_msb(data)
        assert _lzw_decode_msb(enc, 0, "t", 0) == b""
        return
    enc = _lzw_encode_msb(data)
    assert _lzw_decode_msb(enc, len(data), "t", 0) == data


def test_packbits_and_deflate_decode():
    """Compression 32773 (PackBits) and 8/32946 (Deflate) decode for
    real; fixtures hand-built per TIFF 6.0 §9 and stdlib zlib."""
    import zlib

    px = bytes([7, 7, 7, 7, 9, 1, 2, 3])  # 4x2 gray
    # packbits: repeat 7 x4 (control -3 = 0xFD), literals 9,1,2,3 (ctrl 3)
    pb = bytes([0xFD, 7, 3, 9, 1, 2, 3])
    assert decode_tiff(_tiff(pb, 4, 2, compression=32773)).raw == px
    for tag in (8, 32946):
        z = zlib.compress(px)
        assert decode_tiff(_tiff(z, 4, 2, compression=tag)).raw == px
    # deflate + predictor 2
    rows = [bytes([10, 20, 15, 5])]
    d = bytearray(rows[0])
    for i in range(3, 0, -1):
        d[i] = (d[i] - d[i - 1]) & 0xFF
    data = _tiff(zlib.compress(bytes(d)), 4, 1, compression=8)
    # splice predictor tag: rebuild via the lzw fixture path instead
    img = decode_tiff(data)  # without predictor the deltas come out raw
    assert img.raw == bytes(d)


def test_packbits_corrupt_streams_fail_loudly():
    with pytest.raises(ValueError, match=r"ends mid-stream"):
        decode_tiff(_tiff(bytes([0xFD, 7]), 4, 2, compression=32773))
    with pytest.raises(ValueError, match=r"inflates past"):
        decode_tiff(_tiff(bytes([0x81, 7] * 9), 4, 2, compression=32773))
    with pytest.raises(ValueError, match=r"literal run overruns"):
        decode_tiff(_tiff(bytes([7, 1, 2]), 4, 2, compression=32773))
    import zlib
    with pytest.raises(ValueError, match=r"not a zlib stream"):
        decode_tiff(_tiff(b"nope", 2, 2, compression=8))
    with pytest.raises(ValueError, match=r"produced 3 of 4"):
        decode_tiff(_tiff(zlib.compress(b"abc"), 2, 2, compression=8))
    with pytest.raises(ValueError, match=r"inflates past"):
        decode_tiff(_tiff(zlib.compress(b"abcde"), 2, 2, compression=8))
    with pytest.raises(ValueError, match=r"requires 1 bit/sample"):
        decode_tiff(_tiff(bytes(4), 2, 2, compression=4))


@given(st.binary(min_size=1, max_size=400))
@settings(max_examples=30, deadline=None)
def test_packbits_round_trip_property(data):
    """Independent test-side PackBits encoder (literal/repeat runs) →
    production decoder recovers the bytes."""
    from hbase_observer_es_spark.operators.tiff import _packbits_decode

    out = bytearray()
    i = 0
    while i < len(data):
        j = i
        while j + 1 < len(data) and data[j + 1] == data[i] and j - i < 126:
            j += 1
        if j > i:  # repeat run of length j-i+1 >= 2
            out += bytes([(1 - (j - i + 1)) & 0xFF, data[i]])
            i = j + 1
        else:  # literal run until the next 2-byte repeat
            k = i
            while (
                k + 1 < len(data)
                and not (k + 2 < len(data) and data[k + 1] == data[k + 2])
                and k - i < 127
            ):
                k += 1
            out += bytes([k - i]) + data[i : k + 1]
            i = k + 1
    assert _packbits_decode(bytes(out), len(data), "t", 0) == data


# ------------------------------------------------- JPEG-in-TIFF (comp 7)

def _split_jpeg_tables(stream: bytes) -> tuple:
    """Move DQT/DHT/DRI segments out of a complete JPEG stream into an
    abbreviated SOI…EOI tables stream (what a JPEGTables writer does)."""
    assert stream[:2] == b"\xff\xd8"
    pos = 2
    tables = b""
    keep = b"\xff\xd8"
    while pos < len(stream):
        assert stream[pos] == 0xFF
        marker = stream[pos + 1]
        if marker == 0xDA:  # SOS: entropy data + EOI follow verbatim
            keep += stream[pos:]
            break
        (ln,) = struct.unpack(">H", stream[pos + 2 : pos + 4])
        seg = stream[pos : pos + 2 + ln]
        if marker in (0xDB, 0xC4, 0xDD):  # DQT / DHT / DRI
            tables += seg
        else:
            keep += seg
        pos += 2 + ln
    return b"\xff\xd8" + tables + b"\xff\xd9", keep


def _jpeg_tiff(strips: list, w, h, rows_per_strip=None, tables=None,
               photometric=6) -> bytes:
    """Compression-7 TIFF: JPEG strip payloads, optional JPEGTables."""
    e = "<"
    rps = rows_per_strip or h
    pos = 8
    offs, cnts, payload = [], [], b""
    for s in strips:
        offs.append(pos)
        cnts.append(len(s))
        payload += s
        pos += len(s)
    ifd_at = pos
    header = b"II*\x00" + struct.pack(e + "I", ifd_at)
    n_entries = 9 + (1 if tables else 0)
    blobs_at = ifd_at + 2 + n_entries * 12 + 4
    blobs = b""

    def arr_long(tag, vals):
        nonlocal blobs
        if len(vals) == 1:
            return _entry(e, tag, 4, 1, struct.pack(e + "I", vals[0]))
        at = blobs_at + len(blobs)
        blobs += struct.pack(f"{e}{len(vals)}I", *vals)
        return _entry(e, tag, 4, len(vals), struct.pack(e + "I", at))

    entries = [
        _short(e, 256, w), _short(e, 257, h), _short(e, 258, 8),
        _short(e, 259, 7), _short(e, 262, photometric),
        arr_long(273, offs), _short(e, 277, 1),
        _long(e, 278, rps), arr_long(279, cnts),
    ]
    if tables:
        at = blobs_at + len(blobs)
        blobs += tables
        entries.append(
            _entry(e, 347, 7, len(tables), struct.pack(e + "I", at)))
    entries.sort(key=lambda x: struct.unpack(e + "H", x[:2])[0])
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(e + "I", 0)
    return header + payload + ifd + blobs


def _gradient_img(w, h, channels=3, seed=0):
    from hbase_observer_es_spark.operators.png import PngImage

    raw = bytes(
        (x * 11 + y * 17 + c * 5 + seed) % 256
        for y in range(h) for x in range(w) for c in range(channels)
    )
    ct = 2 if channels == 3 else 0
    return PngImage(w, h, 8, ct, channels, w * channels, raw, None)


def test_jpeg_in_tiff_single_strip_gray():
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg, encode_jpeg

    stream = encode_jpeg(_gradient_img(16, 8, channels=1), quality=90)
    data = _jpeg_tiff([stream], 16, 8, photometric=1)
    assert tiff_meta(data)["compression"] == "jpeg"
    img = decode_tiff(data)
    assert (img.width, img.height, img.color_type) == (16, 8, 0)
    assert img.raw == decode_jpeg(stream).raw


def test_jpeg_in_tiff_two_strips_with_shared_tables():
    """The TIFF-EP layout: DQT/DHT live once in JPEGTables; each strip
    is an abbreviated stream spliced back together before decode."""
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg, encode_jpeg

    top = encode_jpeg(_gradient_img(16, 8, seed=0), quality=90)
    bot = encode_jpeg(_gradient_img(16, 8, seed=3), quality=90)
    tables, top_bare = _split_jpeg_tables(top)
    assert len(top_bare) < len(top)  # the split moved something
    # strip 0 relies on the shared tables; strip 1 stays self-contained
    # (its own DQT/DHT arrive after the splice and override — the spec's
    # per-strip override rule)
    data = _jpeg_tiff([top_bare, bot], 16, 16, rows_per_strip=8,
                      tables=tables)
    img = decode_tiff(data)
    assert (img.width, img.height, img.channels) == (16, 16, 3)
    assert img.raw == decode_jpeg(top).raw + decode_jpeg(bot).raw


def test_jpeg_in_tiff_guards():
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg

    stream = encode_jpeg(_gradient_img(16, 8), quality=90)
    with pytest.raises(ValueError, match=r"JPEGTables is not an SOI"):
        decode_tiff(_jpeg_tiff([stream], 16, 8, tables=b"\x00\x01\x02\x03"))
    with pytest.raises(ValueError, match=r"segment 0 does not start with SOI"):
        decode_tiff(_jpeg_tiff([b"\x00" + stream], 16, 8))
    # geometry mismatch: strip decodes 8 rows, IFD claims 6
    with pytest.raises(ValueError, match=r"decodes 16x8, the geometry needs 16x6"):
        decode_tiff(_jpeg_tiff([stream], 16, 6))


# ------------------------------------------------ BigTIFF + tiles (r13)

def _bigtiff(pixels: bytes, w, h, endian="<") -> bytes:
    """Minimal BigTIFF: 16-byte header, one uncompressed strip, one IFD
    with 20-byte entries; strip offset/count use LONG8 (type 16) to
    exercise the 8-byte field types."""
    header = (b"II+\x00" if endian == "<" else b"MM\x00+")
    header += struct.pack(endian + "HH", 8, 0)
    strip_at = 16
    ifd_at = strip_at + len(pixels)
    header += struct.pack(endian + "Q", ifd_at)

    def e16(tag, typ, count, v8: bytes) -> bytes:
        return struct.pack(endian + "HHQ", tag, typ, count) + v8.ljust(8, b"\x00")

    def short(tag, v):
        return e16(tag, 3, 1, struct.pack(endian + "H", v))

    def long8(tag, v):
        return e16(tag, 16, 1, struct.pack(endian + "Q", v))

    entries = [
        short(256, w), short(257, h), short(258, 8), short(259, 1),
        short(262, 1), long8(273, strip_at), short(277, 1),
        short(278, h), long8(279, len(pixels)),
    ]
    ifd = struct.pack(endian + "Q", len(entries)) + b"".join(entries)
    ifd += struct.pack(endian + "Q", 0)
    return header + pixels + ifd


def test_bigtiff_meta_and_decode_both_endians():
    px = bytes(range(12))
    for endian in ("<", ">"):
        data = _bigtiff(px, 4, 3, endian=endian)
        m = tiff_meta(data)
        assert (m["bigtiff"], m["width"], m["height"], m["n_pages"]) == (
            True, 4, 3, 1)
        img = decode_tiff(data)
        assert (img.width, img.height, img.raw) == (4, 3, px)


def test_bigtiff_through_dispatch_and_census():
    from hbase_observer_es_spark.operators.jpeg import decode_image, sniff_format
    from attic.operators.media_census import classify_media

    data = _bigtiff(bytes(range(12)), 4, 3)
    assert sniff_format(data) == "tiff"
    assert decode_image(data).width == 4
    assert classify_media(data)["format"] == "tiff-none"


def _tiled_tiff(raster: bytes, w, h, tile_w, tile_h, spp=1, photometric=1,
                compression=1, predictor=1) -> bytes:
    """Tile-organized TIFF: full-size tiles (edge tiles zero-padded),
    row-major, each independently compressed."""
    import zlib

    e = "<"
    across = -(-w // tile_w)
    down = -(-h // tile_h)
    row_bytes = w * spp
    tiles = []
    for ty in range(down):
        for tx in range(across):
            t = bytearray(tile_w * tile_h * spp)
            for r in range(min(tile_h, h - ty * tile_h)):
                src = (ty * tile_h + r) * row_bytes + tx * tile_w * spp
                n = min(tile_w * spp, row_bytes - tx * tile_w * spp)
                t[r * tile_w * spp : r * tile_w * spp + n] = raster[src : src + n]
            chunk = bytes(t)
            if predictor == 2:
                d = bytearray(chunk)
                rb = tile_w * spp
                for r in range(tile_h):
                    base = r * rb
                    for i in range(base + rb - 1, base + spp - 1, -1):
                        d[i] = (d[i] - d[i - spp]) & 0xFF
                chunk = bytes(d)
            if compression == 8:
                chunk = zlib.compress(chunk)
            elif compression == 5:
                chunk = _lzw_encode_msb(chunk)
            tiles.append(chunk)
    pos = 8
    offs, cnts, payload = [], [], b""
    for t in tiles:
        offs.append(pos)
        cnts.append(len(t))
        payload += t
        pos += len(t)
    ifd_at = pos
    header = b"II*\x00" + struct.pack(e + "I", ifd_at)
    n_entries = 10 + (1 if predictor == 2 else 0)
    blobs_at = ifd_at + 2 + n_entries * 12 + 4
    blobs = b""

    def arr_long(tag, vals):
        nonlocal blobs
        if len(vals) == 1:
            return _entry(e, tag, 4, 1, struct.pack(e + "I", vals[0]))
        at = blobs_at + len(blobs)
        blobs += struct.pack(f"{e}{len(vals)}I", *vals)
        return _entry(e, tag, 4, len(vals), struct.pack(e + "I", at))

    entries = [
        _short(e, 256, w), _short(e, 257, h), _short(e, 258, 8),
        _short(e, 259, compression), _short(e, 262, photometric),
        _short(e, 277, spp),
        _long(e, 322, tile_w), _long(e, 323, tile_h),
        arr_long(324, offs), arr_long(325, cnts),
    ]
    if predictor == 2:
        entries.append(_short(e, 317, 2))
    entries.sort(key=lambda x: struct.unpack(e + "H", x[:2])[0])
    # recompute blob base: entry count may differ from the estimate
    assert len(entries) == n_entries
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(e + "I", 0)
    return header + payload + ifd + blobs


def test_tiled_gray_uncompressed_with_edge_tiles():
    """5x5 raster in 4x4 tiles: a 2x2 grid with right/bottom padding."""
    raster = bytes(range(25))
    data = _tiled_tiff(raster, 5, 5, 4, 4)
    img = decode_tiff(data)
    assert (img.width, img.height, img.raw) == (5, 5, raster)


def test_tiled_rgb_deflate_with_predictor():
    raster = bytes((i * 7) % 256 for i in range(6 * 4 * 3))
    data = _tiled_tiff(raster, 6, 4, 4, 2, spp=3, photometric=2,
                       compression=8, predictor=2)
    img = decode_tiff(data)
    assert (img.channels, img.raw) == (3, raster)


def test_tiled_lzw():
    raster = bytes((i * 3) % 251 for i in range(8 * 8))
    data = _tiled_tiff(raster, 8, 8, 4, 4, compression=5)
    assert decode_tiff(data).raw == raster


def test_tiled_guards_are_loud():
    raster = bytes(range(25))
    good = _tiled_tiff(raster, 5, 5, 4, 4)
    # drop one tile from BOTH arrays: grid mismatch is loud
    bad = bytearray(good)
    for tag in (324, 325):
        i = bad.find(struct.pack("<HH", tag, 4))
        bad[i + 4 : i + 8] = struct.pack("<I", 3)  # count 4 -> 3
    with pytest.raises(ValueError, match=r"3 tiles declared, .* needs 4"):
        decode_tiff(bytes(bad))


def _tiled_payload_tiff(tiles: list, w, h, tile_w, tile_h, compression,
                        bits=8, spp=1, photometric=1, tables=None) -> bytes:
    """Tile-organized TIFF from PRE-ENCODED tile payloads (fax/JPEG
    tiles, where each tile is an independently coded stream)."""
    e = "<"
    pos = 8
    offs, cnts, payload = [], [], b""
    for t in tiles:
        offs.append(pos)
        cnts.append(len(t))
        payload += t
        pos += len(t)
    ifd_at = pos
    header = b"II*\x00" + struct.pack(e + "I", ifd_at)
    n_entries = 10 + (1 if tables else 0)
    blobs_at = ifd_at + 2 + n_entries * 12 + 4
    blobs = b""

    def arr_long(tag, vals):
        nonlocal blobs
        if len(vals) == 1:
            return _entry(e, tag, 4, 1, struct.pack(e + "I", vals[0]))
        at = blobs_at + len(blobs)
        blobs += struct.pack(f"{e}{len(vals)}I", *vals)
        return _entry(e, tag, 4, len(vals), struct.pack(e + "I", at))

    entries = [
        _short(e, 256, w), _short(e, 257, h), _short(e, 258, bits),
        _short(e, 259, compression), _short(e, 262, photometric),
        _short(e, 277, spp),
        _long(e, 322, tile_w), _long(e, 323, tile_h),
        arr_long(324, offs), arr_long(325, cnts),
    ]
    if tables:
        at = blobs_at + len(blobs)
        blobs += tables
        entries.append(_entry(e, 347, 7, len(tables), struct.pack(e + "I", at)))
    entries.sort(key=lambda x: struct.unpack(e + "H", x[:2])[0])
    assert len(entries) == n_entries
    ifd = struct.pack(e + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(e + "I", 0)
    return header + payload + ifd + blobs


def _fax_tiles(bitmap: list, w, h, tile_w, tile_h, mode: str) -> list:
    """Split a 0/1 bitmap into full-sized tiles (white-padded) and encode
    each independently with the test-side T.4/T.6 encoder."""
    from tests.test_ccittfax import _encode as _fax_encode

    tiles = []
    for ty in range(-(-h // tile_h)):
        for tx in range(-(-w // tile_w)):
            rows = []
            for r in range(tile_h):
                y = ty * tile_h + r
                src = bitmap[y][tx * tile_w : tx * tile_w + tile_w] if y < h else []
                rows.append(src + [0] * (tile_w - len(src)))
            tiles.append(_fax_encode(rows, tile_w, mode))
    return tiles


@pytest.mark.parametrize("mode,comp", [("g4", 4), ("g3", 3), ("mh", 2)])
def test_tiled_fax_decodes_with_edge_tiles(mode, comp):
    """r15: tile-organized CCITT fax (previously a by-name refusal) —
    a 10x7 bilevel page in 4x4 tiles (3x2 grid, right/bottom padding),
    every tile an independently coded full-sized fax image."""
    w, h = 10, 7
    bitmap = [[(x * 3 + y * y) % 4 == 0 and 1 or 0 for x in range(w)]
              for y in range(h)]
    data = _tiled_payload_tiff(
        _fax_tiles(bitmap, w, h, 4, 4, mode), w, h, 4, 4,
        compression=comp, bits=1, photometric=0,
    )
    img = decode_tiff(data)
    assert (img.width, img.height, img.channels) == (w, h, 1)
    # photometric 0 (WhiteIsZero): coded 0 renders 255
    want = bytes(255 if not bitmap[y][x] else 0
                 for y in range(h) for x in range(w))
    assert img.raw == want


def test_tiled_jpeg_decodes_with_shared_tables():
    """r15: tile-organized JPEG (previously a by-name refusal) — each
    tile a complete 8x8 stream, DQT/DHT shared through JPEGTables."""
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg, encode_jpeg

    tile_imgs = [_gradient_img(8, 8, channels=1, seed=s) for s in range(4)]
    streams = [encode_jpeg(t, quality=90) for t in tile_imgs]
    tables, abbreviated = zip(*(_split_jpeg_tables(s) for s in streams))
    data = _tiled_payload_tiff(
        list(abbreviated), 13, 11, 8, 8, compression=7,
        photometric=1, tables=tables[0],
    )
    img = decode_tiff(data)
    assert (img.width, img.height, img.channels) == (13, 11, 1)
    # assembly check: every kept pixel equals its tile's own decode
    for ti, s in enumerate(streams):
        tile = decode_jpeg(s).raw
        ty, tx = divmod(ti, 2)
        for r in range(min(8, 11 - ty * 8)):
            for c in range(min(8, 13 - tx * 8)):
                assert img.raw[(ty * 8 + r) * 13 + tx * 8 + c] == tile[r * 8 + c]


def test_tiled_jpeg_geometry_mismatch_is_loud():
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg

    stream = encode_jpeg(_gradient_img(8, 4, channels=1), quality=90)
    data = _tiled_payload_tiff([stream], 8, 8, 8, 8, compression=7,
                               photometric=1)
    with pytest.raises(ValueError, match=r"decodes 8x4, the geometry needs 8x8"):
        decode_tiff(data)


# ------------------------------------------- old-style JPEG (comp 6)


def _oldjpeg_tiff(jpeg: bytes, w, h, with_length=True, comp=6) -> bytes:
    """Header + embedded interchange JPEG + one IFD using tags 513/514
    (the TTN2-blessed old-style layout)."""
    endian = "<"
    header = b"II*\x00"
    jpeg_at = 8
    ifd_at = jpeg_at + len(jpeg)
    header += struct.pack(endian + "I", ifd_at)
    entries = [
        _short(endian, 256, w),
        _short(endian, 257, h),
        _short(endian, 258, 8),
        _short(endian, 259, comp),
        _short(endian, 262, 1),
        _long(endian, 513, jpeg_at),
    ]
    if with_length:
        entries.append(_long(endian, 514, len(jpeg)))
    ifd = struct.pack(endian + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(endian + "I", 0)
    return header + jpeg + ifd


def test_oldstyle_jpeg_interchange_decodes():
    """Compression 6 with JPEGInterchangeFormat(Length): the embedded
    stream decodes through the shared T.81 decoder, geometry checked
    against the IFD — with and without the optional length tag."""
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    px = bytes((x * 16 + y) % 256 for y in range(16) for x in range(16))
    src = PngImage(16, 16, 8, 0, 1, 16, px, None)
    jpeg = encode_jpeg(src, quality=100)
    want = decode_tiff(_oldjpeg_tiff(jpeg, 16, 16)).raw
    assert want == decode_tiff(_oldjpeg_tiff(jpeg, 16, 16,
                                             with_length=False)).raw
    # same pixels as decoding the embedded stream directly
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg

    assert want == decode_jpeg(jpeg).raw


def test_oldstyle_jpeg_refusals():
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    px = bytes(range(256))
    jpeg = encode_jpeg(PngImage(16, 16, 8, 0, 1, 16, px, None), quality=90)
    # geometry mismatch between the IFD and the embedded stream
    with pytest.raises(ValueError, match=r"decodes 16x16, the IFD declares 8x8"):
        decode_tiff(_oldjpeg_tiff(jpeg, 8, 8))
    # no 513: the bare-entropy strip layout refuses by name
    data = bytearray(_oldjpeg_tiff(jpeg, 16, 16))
    import re as _re

    # rebuild without tags 513/514: easiest is a fresh IFD
    endian = "<"
    header = b"II*\x00" + struct.pack(endian + "I", 8)
    entries = [
        _short(endian, 256, 16), _short(endian, 257, 16),
        _short(endian, 258, 8), _short(endian, 259, 6),
        _short(endian, 262, 1),
    ]
    ifd = struct.pack(endian + "H", len(entries)) + b"".join(entries)
    ifd += struct.pack(endian + "I", 0)
    with pytest.raises(NotImplementedError, match="unimplementable as specified"):
        decode_tiff(header + ifd)
    # declared length past the file end
    bad = _oldjpeg_tiff(jpeg, 16, 16)
    i = bad.find(struct.pack("<HHI", 514, 4, 1))
    truncated = bytearray(bad)
    truncated[i + 8 : i + 12] = struct.pack("<I", len(bad) + 100)
    with pytest.raises(ValueError, match="past the file end"):
        decode_tiff(bytes(truncated))


def test_oldstyle_jpeg_meta_still_reports():
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    jpeg = encode_jpeg(PngImage(16, 16, 8, 0, 1, 16, bytes(256), None))
    m = tiff_meta(_oldjpeg_tiff(jpeg, 16, 16))
    assert m["compression"] == "old-jpeg"
    assert (m["width"], m["height"]) == (16, 16)
