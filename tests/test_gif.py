"""GIF decoder vs the public GIF89a spec: hand-built byte streams (an
independent test-side LZW packer plus one fully hand-packed
dictionary-growth stream), interlace, animation composition/disposal,
fail-loud violations, and the Spark frame-sampling fan-out."""

from __future__ import annotations

import struct

import pytest

from hbase_observer_es_spark.operators.gif import (
    decode_gif,
    gif_frames_frame,
    looks_like_gif,
    parse_gif,
)

# ---------------------------------------------------------- test builders


def _bits_lsb(codes_widths) -> bytes:
    bits = []
    for code, width in codes_widths:
        for i in range(width):
            bits.append((code >> i) & 1)
    out = bytearray((len(bits) + 7) // 8)
    for i, b in enumerate(bits):
        out[i // 8] |= b << (i % 8)
    return bytes(out)


def _lzw_literals(indices, min_code: int) -> bytes:
    """Independent spec-valid LZW stream: CLEAR before every literal so
    the dictionary never grows and the code width stays min_code+1 —
    trivially correct by construction, no shared code with the decoder."""
    clear = 1 << min_code
    w = min_code + 1
    seq = [(clear, w)]
    for v in indices:
        seq.append((v, w))
        seq.append((clear, w))
    seq.append((clear + 1, w))
    return _bits_lsb(seq)


def _subblocks(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 255):
        chunk = data[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


_PALETTE4 = [(10, 20, 30), (200, 0, 0), (0, 200, 0), (0, 0, 200)]


def _gct(palette) -> bytes:
    return b"".join(bytes(c) for c in palette)


def _screen(w: int, h: int, gct_colors=None, bg: int = 0) -> bytes:
    packed = 0x80 | 0x01 if gct_colors else 0  # GCT flag + size bits for 4
    out = b"GIF89a" + struct.pack("<HHBBB", w, h, packed, bg, 0)
    if gct_colors:
        out += _gct(gct_colors)
    return out


def _image_desc(left, top, w, h, interlace=False, lct=None) -> bytes:
    packed = (0x80 | 0x01 if lct else 0) | (0x40 if interlace else 0)
    out = b"\x2c" + struct.pack("<HHHHB", left, top, w, h, packed)
    if lct:
        out += _gct(lct)
    return out


def _gce(delay_cs=0, transparent=None, disposal=0) -> bytes:
    packed = (disposal << 2) | (1 if transparent is not None else 0)
    return b"\x21\xf9" + _subblocks(
        bytes([packed, delay_cs & 0xFF, delay_cs >> 8,
               transparent if transparent is not None else 0])
    )


def _simple_gif(indices, w, h, interlace=False) -> bytes:
    return (
        _screen(w, h, _PALETTE4)
        + _image_desc(0, 0, w, h, interlace=interlace)
        + bytes([2])
        + _subblocks(_lzw_literals(indices, 2))
        + b"\x3b"
    )


def _rgb(img, x, y):
    o = (y * img.width + x) * 3
    return tuple(img.raw[o : o + 3])


# ---------------------------------------------------------------- goldens


def test_hand_packed_dictionary_growth_stream():
    """2x2 pixels [0,1,2,3] coded as CLEAR 0 1 2 3 END with the width
    bump 3->4 after the dictionary reaches 8 entries: the LZW bytes
    44 34 05 are packed fully by hand (LSB-first)."""
    data = (
        _screen(2, 2, _PALETTE4)
        + _image_desc(0, 0, 2, 2)
        + bytes([2])
        + _subblocks(bytes([0x44, 0x34, 0x05]))
        + b"\x3b"
    )
    img = decode_gif(data)
    assert [_rgb(img, x, y) for y in range(2) for x in range(2)] == _PALETTE4


def test_literal_stream_and_palette_resolution():
    img = decode_gif(_simple_gif([3, 2, 1, 0, 0, 1], 3, 2))
    assert (img.width, img.height, img.color_type) == (3, 2, 2)
    assert _rgb(img, 0, 0) == (0, 0, 200)
    assert _rgb(img, 2, 0) == (200, 0, 0)
    assert _rgb(img, 2, 1) == (200, 0, 0)


def test_kwkwk_case_decodes():
    """The code-equals-next-entry case: CLEAR 1 <6> END where <6> is the
    not-yet-defined entry -> emits [1, 1, 1] per the spec's KwKwK rule."""
    stream = _bits_lsb([(4, 3), (1, 3), (6, 3), (5, 3)])
    data = (
        _screen(3, 1, _PALETTE4)
        + _image_desc(0, 0, 3, 1)
        + bytes([2])
        + _subblocks(stream)
        + b"\x3b"
    )
    img = decode_gif(data)
    assert [_rgb(img, x, 0) for x in range(3)] == [(200, 0, 0)] * 3


def test_interlaced_rows_reordered():
    """4 rows interlaced: storage order is rows 0, 2, 1, 3 (pass starts
    0/4/2/1 for height 4). Solid-color rows expose any misorder."""
    rows_in_storage_order = [0, 2, 1, 3]  # palette index per stored row
    idx = []
    for v in rows_in_storage_order:
        idx += [v, v]
    img = decode_gif(_simple_gif(idx, 2, 4, interlace=True))
    for y in range(4):
        assert _rgb(img, 0, y) == _PALETTE4[y], y


def test_animation_composition_transparency_and_disposal():
    """Frame 1 fills the screen with color 1; frame 2 is a 1x1 rect of
    color 2 at (1,1) with disposal 2 (restore background); frame 3 is a
    full-screen transparent frame. Composed: frame 2 shows the overlay,
    frame 3 shows the background color where the rect sat and frame 1's
    pixels elsewhere."""
    f1 = _image_desc(0, 0, 2, 2) + bytes([2]) + _subblocks(_lzw_literals([1] * 4, 2))
    f2 = (
        _gce(delay_cs=7, disposal=2)
        + _image_desc(1, 1, 1, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([2], 2))
    )
    f3 = (
        _gce(transparent=3)
        + _image_desc(0, 0, 2, 2)
        + bytes([2])
        + _subblocks(_lzw_literals([3] * 4, 2))
    )
    data = _screen(2, 2, _PALETTE4, bg=0) + f1 + f2 + f3 + b"\x3b"
    frames = parse_gif(data)
    assert [f.delay_cs for f in frames] == [0, 7, 0]
    assert _rgb(frames[0].image, 1, 1) == _PALETTE4[1]
    assert _rgb(frames[1].image, 1, 1) == _PALETTE4[2]
    assert _rgb(frames[1].image, 0, 0) == _PALETTE4[1]
    # frame 3: fully transparent overlay -> canvas after frame 2's
    # disposal-2 (bg where the 1x1 sat, frame-1 color elsewhere)
    assert _rgb(frames[2].image, 1, 1) == _PALETTE4[0]  # background
    assert _rgb(frames[2].image, 0, 0) == _PALETTE4[1]


def test_disposal_restore_previous():
    """Disposal 3: the canvas reverts to its pre-frame state after the
    frame is shown."""
    f1 = _image_desc(0, 0, 2, 1) + bytes([2]) + _subblocks(_lzw_literals([1, 1], 2))
    f2 = (
        _gce(disposal=3)
        + _image_desc(0, 0, 1, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([2], 2))
    )
    f3 = (
        _gce(transparent=0)
        + _image_desc(0, 0, 2, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([0, 0], 2))
    )
    data = _screen(2, 1, _PALETTE4) + f1 + f2 + f3 + b"\x3b"
    frames = parse_gif(data)
    assert _rgb(frames[1].image, 0, 0) == _PALETTE4[2]
    assert _rgb(frames[2].image, 0, 0) == _PALETTE4[1]  # restored


def test_comment_and_application_extensions_skipped():
    comment = b"\x21\xfe" + _subblocks(b"made by hand")
    app = b"\x21\xff" + _subblocks(b"NETSCAPE2.0\x01\x00\x00")
    data = (
        _screen(2, 1, _PALETTE4)
        + comment + app
        + _image_desc(0, 0, 2, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([1, 2], 2))
        + b"\x3b"
    )
    img = decode_gif(data)
    assert _rgb(img, 0, 0) == _PALETTE4[1]


def test_local_color_table_overrides_global():
    lct = [(5, 6, 7), (8, 9, 10), (0, 0, 0), (1, 1, 1)]
    data = (
        _screen(1, 1, _PALETTE4)
        + _image_desc(0, 0, 1, 1, lct=lct)
        + bytes([2])
        + _subblocks(_lzw_literals([1], 2))
        + b"\x3b"
    )
    assert _rgb(decode_gif(data), 0, 0) == (8, 9, 10)


# ------------------------------------------------------------- fail-loud


def test_looks_like_gif():
    assert looks_like_gif(_simple_gif([0], 1, 1))
    assert not looks_like_gif(b"GIF90a")
    assert not looks_like_gif(b"")


@pytest.mark.parametrize(
    "mutate, msg",
    [
        (lambda d: b"PNG" + d[3:], r"not a GIF"),
        (lambda d: d[:-1], r"ends without trailer"),
        (lambda d: d[:10], r"truncated logical screen"),
        (lambda d: d.replace(b"\x2c", b"\x7c", 1), r"unknown block 0x7C"),
    ],
)
def test_container_violations(mutate, msg):
    with pytest.raises(ValueError, match=msg):
        parse_gif(mutate(_simple_gif([0, 1, 2, 3], 2, 2)))


def test_zero_screen_and_offscreen_frame():
    with pytest.raises(ValueError, match=r"zero logical screen"):
        parse_gif(_screen(0, 1, _PALETTE4) + b"\x3b")
    data = (
        _screen(2, 2, _PALETTE4)
        + _image_desc(1, 1, 2, 2)
        + bytes([2])
        + _subblocks(_lzw_literals([0] * 4, 2))
        + b"\x3b"
    )
    with pytest.raises(ValueError, match=r"outside the 2x2 screen"):
        parse_gif(data)


def test_lzw_pixel_count_mismatch_is_loud():
    short = (
        _screen(2, 2, _PALETTE4)
        + _image_desc(0, 0, 2, 2)
        + bytes([2])
        + _subblocks(_lzw_literals([0, 1], 2))
        + b"\x3b"
    )
    with pytest.raises(ValueError, match=r"LZW produced 2 of 4 pixels"):
        parse_gif(short)
    over = (
        _screen(1, 1, _PALETTE4)
        + _image_desc(0, 0, 1, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([0, 1], 2))
        + b"\x3b"
    )
    with pytest.raises(ValueError, match=r"more than the 1 pixels"):
        parse_gif(over)


def test_no_color_table_anywhere_is_loud():
    data = (
        b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0)
        + _image_desc(0, 0, 1, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([0], 2))
        + b"\x3b"
    )
    with pytest.raises(ValueError, match=r"neither local nor global color table"):
        parse_gif(data)


def test_frame_bomb_guard():
    one = _image_desc(0, 0, 1, 1) + bytes([2]) + _subblocks(_lzw_literals([0], 2))
    data = _screen(1, 1, _PALETTE4) + one * 4 + b"\x3b"
    with pytest.raises(ValueError, match=r"more than 3 frames"):
        parse_gif(data, max_frames=3)
    assert len(parse_gif(data, max_frames=4)) == 4


# ------------------------------------------------- the Spark fan-out


def test_gif_frames_through_spark(spark):
    f1 = _image_desc(0, 0, 2, 1) + bytes([2]) + _subblocks(_lzw_literals([1, 1], 2))
    f2 = (
        _gce(delay_cs=5)
        + _image_desc(0, 0, 2, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([2, 2], 2))
    )
    f3 = _image_desc(0, 0, 2, 1) + bytes([2]) + _subblocks(_lzw_literals([3, 3], 2))
    anim = _screen(2, 1, _PALETTE4) + f1 + f2 + f3 + b"\x3b"
    df = spark.createDataFrame([(1, anim)], "doc_id long, payload binary")
    rows = sorted(gif_frames_frame(df, every_n=2).collect(), key=lambda r: r.frame_idx)
    assert [(r.frame_idx, r.n_frames, r.delay_cs) for r in rows] == [
        (0, 3, 0), (2, 3, 0)
    ]
    from hbase_observer_es_spark.operators.png import decode_png

    first = decode_png(bytes(rows[0].frame_png))
    assert tuple(first.raw[0:3]) == _PALETTE4[1]
    with pytest.raises(ValueError, match=r"every_n 0"):
        gif_frames_frame(df, every_n=0)


def test_composes_with_perceptual_hash():
    from attic.operators.imagehash import average_hash

    img = decode_gif(_simple_gif([0, 1, 2, 3], 2, 2))
    assert 0 <= average_hash(img) < (1 << 64)


def test_screen_pixel_bomb_guard():
    """A 16-byte header must not be able to demand a multi-GB canvas."""
    bomb = b"GIF89a" + struct.pack("<HHBBB", 65535, 65535, 0, 0, 0) + b"\x3b"
    with pytest.raises(ValueError, match=r"exceeds the 64000000-pixel guard"):
        parse_gif(bomb)


def test_iter_frames_is_lazy():
    """iter_gif_frames yields the first frame before touching the second
    — decode_gif on an animation whose SECOND frame is corrupt still
    returns frame 0."""
    from hbase_observer_es_spark.operators.gif import iter_gif_frames

    f1 = _image_desc(0, 0, 1, 1) + bytes([2]) + _subblocks(_lzw_literals([1], 2))
    f2_corrupt = _image_desc(0, 0, 1, 1) + bytes([2]) + _subblocks(b"\xff\xff\xff")
    data = _screen(1, 1, _PALETTE4) + f1 + f2_corrupt + b"\x3b"
    it = iter_gif_frames(data)
    assert _rgb(next(it).image, 0, 0) == _PALETTE4[1]
    assert _rgb(decode_gif(data), 0, 0) == _PALETTE4[1]
    with pytest.raises(ValueError):
        next(it)


def test_count_gif_frames_structure_only():
    """count_gif_frames reports frames PRESENT from the block walk alone
    — matches parse_gif on valid animations, and (by design) does not
    detect pixel-level corruption it never decodes."""
    from hbase_observer_es_spark.operators.gif import count_gif_frames

    f1 = _image_desc(0, 0, 2, 2) + bytes([2]) + _subblocks(_lzw_literals([1] * 4, 2))
    f2 = (
        _gce(delay_cs=7, disposal=2)
        + _image_desc(1, 1, 1, 1)
        + bytes([2])
        + _subblocks(_lzw_literals([2], 2))
    )
    data = _screen(2, 2, _PALETTE4) + f1 + f2 + b"\x3b"
    assert count_gif_frames(data) == len(parse_gif(data)) == 2
    assert count_gif_frames(_simple_gif([0, 1, 2, 3], 2, 2)) == 1
    # pixel-level corruption is NOT this walk's job: bad LZW bytes with
    # intact block structure still count
    f2_badpixels = _image_desc(0, 0, 1, 1) + bytes([2]) + _subblocks(b"\xff\xff\xff")
    assert count_gif_frames(_screen(1, 1, _PALETTE4) + f1 + f2_badpixels + b"\x3b") == 3 - 1
    # structural truncation IS loud, same as the decoder
    with pytest.raises(ValueError, match=r"ends without trailer"):
        count_gif_frames(_screen(2, 2, _PALETTE4) + f1)
    with pytest.raises(ValueError, match=r"no image data"):
        count_gif_frames(_screen(2, 2, _PALETTE4) + b"\x3b")
    with pytest.raises(ValueError, match=r"more than 1 frames"):
        count_gif_frames(data, max_frames=1)


def test_decode_image_real_reports_gif_frame_count():
    """ADVICE r12: the registered metadata path must report the frames
    PRESENT for an animated GIF (media_census reports the true count for
    the same payload), while still decoding only the first composed
    frame."""
    from hbase_observer_es_spark.operators.multimodal import decode_image_real

    f1 = _image_desc(0, 0, 2, 2) + bytes([2]) + _subblocks(_lzw_literals([1] * 4, 2))
    f2 = (
        _gce(delay_cs=7)
        + _image_desc(0, 0, 2, 2)
        + bytes([2])
        + _subblocks(_lzw_literals([2] * 4, 2))
    )
    meta = decode_image_real(_screen(2, 2, _PALETTE4) + f1 + f2 + b"\x3b")
    assert (meta["fmt"], meta["n_frames"]) == ("gif", 2)
    # a GIF whose SECOND frame is structurally truncated is corrupt for
    # metadata purposes even though frame 0 decodes (documented contract)
    truncated = _screen(2, 2, _PALETTE4) + f1 + f2[:-3]
    with pytest.raises(ValueError):
        decode_image_real(truncated)
