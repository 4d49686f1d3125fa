"""Production VP8L encoder: round trips through the from-spec decoder
(still and animated), container metadata agreement, guards, and a
hypothesis property. The INDEPENDENT hand-packed encoder in
tests/test_vp8l.py keeps pinning the decoder from the test side; this
file pins the production writer against that same decoder."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hbase_observer_es_spark.operators.png import PngImage
from hbase_observer_es_spark.operators.vp8l import decode_vp8l
from attic.operators.vp8l_enc import (
    encode_vp8l,
    write_webp,
    write_webp_anim,
)
from hbase_observer_es_spark.operators.webpanim import parse_webp_frames
from hbase_observer_es_spark.operators.webpmeta import (
    decode_webp_pixels,
    webp_meta,
)


def _rgb_img(w, h, raw: bytes) -> PngImage:
    return PngImage(w, h, 8, 2, 3, w * 3, raw, None)


def _gradient(w, h, seed=0) -> PngImage:
    raw = bytes(
        (x * 7 + y * 13 + seed * 29 + c * 3) % 256
        for y in range(h)
        for x in range(w)
        for c in range(3)
    )
    return _rgb_img(w, h, raw)


def test_still_round_trip_and_meta():
    img = _gradient(9, 5)
    data = write_webp(img)
    m = webp_meta(data)
    assert (m["kind"], m["width"], m["height"], m["animated"]) == (
        "lossless", 9, 5, False)
    out = decode_webp_pixels(data)
    assert (out.width, out.height, out.raw) == (9, 5, img.raw)


def test_chunk_body_round_trip_single_color():
    """1x1 exercises the 0-bit single-symbol code path end to end."""
    body = encode_vp8l(1, 1, [0xFF123456])
    img = decode_vp8l(body)
    assert img.raw == bytes([0x12, 0x34, 0x56])


def test_full_range_channels_round_trip():
    """Regression: a channel using ALL 256 byte values made every
    balanced code length identical, and the one-symbol code-length code
    was written as all zeros — an empty prefix code the decoder rejects.
    A plain 16x16 grayscale ramp (all 256 gray levels) is the repro."""
    ramp = PngImage(16, 16, 8, 0, 1, 16, bytes(range(256)), None)
    out = decode_webp_pixels(write_webp(ramp))
    assert out.raw == bytes(v for v in range(256) for _ in range(3))
    # and per-channel full range through the RGB path
    rgb = _rgb_img(16, 16, bytes(
        b for i in range(256) for b in (i, 255 - i, (i * 7) % 256)))
    assert decode_webp_pixels(write_webp(rgb)).raw == rgb.raw


def test_grayscale_raster_replicates_to_rgb():
    img = PngImage(3, 2, 8, 0, 1, 3, bytes([0, 100, 255, 1, 2, 3]), None)
    out = decode_webp_pixels(write_webp(img))
    assert out.raw == bytes(
        v for v in [0, 100, 255, 1, 2, 3] for _ in range(3))


def test_anim_round_trip():
    frames = [(40, _gradient(4, 3, seed=i)) for i in range(3)]
    data = write_webp_anim(frames, bg_rgba=(1, 2, 3, 255), loops=2)
    m = webp_meta(data)
    assert (m["animated"], m["n_frames"], m["width"], m["height"]) == (
        True, 3, 4, 3)
    out = parse_webp_frames(data)
    assert [(f.index, f.duration_ms) for f in out] == [(0, 40), (1, 40), (2, 40)]
    # full-canvas overwrite frames: each composed canvas IS the input
    for (dur, src), got in zip(frames, out):
        assert got.image.raw == src.raw


def test_guards_are_loud():
    img = _gradient(2, 2)
    with pytest.raises(ValueError, match=r"outside the 14-bit"):
        encode_vp8l(0, 5, [])
    with pytest.raises(ValueError, match=r"3 pixels for 2x2"):
        encode_vp8l(2, 2, [0, 0, 0])
    with pytest.raises(ValueError, match=r"8-bit RGB or grayscale rasters"):
        write_webp(PngImage(1, 1, 16, 2, 3, 6, b"\x00" * 6, None))
    with pytest.raises(ValueError, match=r"at least one frame"):
        write_webp_anim([])
    with pytest.raises(ValueError, match=r"frame 1 is 1x1, canvas is 2x2"):
        write_webp_anim([(10, img), (10, _gradient(1, 1))])
    with pytest.raises(ValueError, match=r"frame 0 duration"):
        write_webp_anim([(1 << 24, img)])


@settings(max_examples=30, deadline=None)
@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    seed=st.integers(0, 1 << 30),
)
def test_round_trip_property(w, h, seed):
    import random

    rng = random.Random(seed)
    raw = bytes(rng.randrange(256) for _ in range(w * h * 3))
    img = _rgb_img(w, h, raw)
    assert decode_webp_pixels(write_webp(img)).raw == raw
    frames = parse_webp_frames(write_webp_anim([(7, img), (9, img)]))
    assert len(frames) == 2 and frames[1].image.raw == raw
