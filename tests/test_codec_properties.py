"""Property-based round-trips over the from-spec codecs (hypothesis):
random inputs the hand-written goldens would never think of. Each
property states the codec's actual contract — bit-exact where the
format is lossless, bounded where it is lossy — with deadline=None
(pure-Python codecs are slow per example, correctness is the point)."""

from __future__ import annotations

import struct

from hypothesis import given, settings, strategies as st

_SETTINGS = dict(max_examples=25, deadline=None)


# ------------------------------------------------------------------ FLAC


@settings(**_SETTINGS)
@given(
    samples=st.lists(
        st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
        min_size=1, max_size=400,
    ),
    channels=st.integers(min_value=1, max_value=3),
    block=st.sampled_from([16, 64, 192]),
)
def test_flac_roundtrip_bitexact(samples, channels, block):
    from attic.operators.flac import encode_flac, parse_flac

    n = len(samples) - (len(samples) % channels)
    samples = samples[:n] or [0] * channels
    d = parse_flac(encode_flac(samples, channels, 8000, 16, block_size=block))
    assert d["samples"] == samples  # lossless means LOSSLESS, incl. the MD5


# ------------------------------------------------------------------- WAV


@settings(**_SETTINGS)
@given(
    samples=st.lists(
        st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
        min_size=1, max_size=300,
    ),
    channels=st.integers(min_value=1, max_value=2),
)
def test_wav_roundtrip_bitexact(samples, channels):
    from attic.operators.wav import WavAudio, parse_wav, write_wav

    n = len(samples) - (len(samples) % channels)
    samples = samples[:n] or [0] * channels
    a = WavAudio(1, channels, 8000, 16, len(samples) // channels,
                 struct.pack(f"<{len(samples)}h", *samples))
    assert parse_wav(write_wav(a)).samples() == samples


@settings(**_SETTINGS)
@given(
    samples=st.lists(
        st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
        min_size=8, max_size=200,
    ),
    gain=st.integers(min_value=1, max_value=2),
)
def test_energy_hash_gain_and_stereo_invariance(samples, gain):
    """The fingerprint's documented invariances hold for ARBITRARY
    clips, not just the constructed ramps."""
    from attic.operators.audiohash import energy_hash
    from attic.operators.wav import WavAudio

    def clip(vals, ch=1):
        return WavAudio(1, ch, 8000, 16, len(vals) // ch,
                        struct.pack(f"<{len(vals)}h", *vals))

    base = energy_hash(clip(samples))
    scaled = [max(-(1 << 15), min((1 << 15) - 1, v * gain)) for v in samples]
    if all(abs(v * gain) < (1 << 15) for v in samples):
        assert energy_hash(clip(scaled)) == base
    stereo = [v for s in samples for v in (s, s)]
    assert energy_hash(clip(stereo, ch=2)) == base


# ------------------------------------------------------------------ JPEG


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(min_value=0, max_value=1 << 30),
    w=st.integers(min_value=1, max_value=24),
    h=st.integers(min_value=1, max_value=24),
)
def test_jpeg_quality100_bounded_error(seed, w, h):
    """Lossy contract: any gray image survives quality-100 with small
    bounded per-pixel error and exact geometry."""
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    raw = bytes(((x * 31 + y * 17 + seed) % 256) for y in range(h) for x in range(w))
    img = PngImage(w, h, 8, 0, 1, w, raw, None)
    back = decode_jpeg(encode_jpeg(img, quality=100))
    assert (back.width, back.height) == (w, h)
    assert max(abs(a - b) for a, b in zip(back.raw, img.raw)) <= 8


# ------------------------------------------------------------------- GIF


@settings(**_SETTINGS)
@given(
    idx=st.lists(st.integers(min_value=0, max_value=3), min_size=1, max_size=120),
)
def test_gif_lzw_literal_stream_roundtrip(idx):
    """Any index sequence through the test-side literal LZW encoder
    decodes back exactly (geometry 1 x n)."""
    from hbase_observer_es_spark.operators.gif import decode_gif
    from tests.test_gif import _PALETTE4, _image_desc, _lzw_literals, _screen, _subblocks

    data = (
        _screen(len(idx), 1, _PALETTE4)
        + _image_desc(0, 0, len(idx), 1)
        + bytes([2])
        + _subblocks(_lzw_literals(idx, 2))
        + b"\x3b"
    )
    img = decode_gif(data)
    got = [tuple(img.raw[3 * i : 3 * i + 3]) for i in range(len(idx))]
    assert got == [_PALETTE4[v] for v in idx]


# ------------------------------------------------------------------ PNG


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=1 << 30),
    w=st.integers(min_value=1, max_value=20),
    h=st.integers(min_value=1, max_value=20),
)
def test_png_roundtrip_bitexact_rgb(seed, w, h):
    from hbase_observer_es_spark.operators.png import PngImage, decode_png, encode_png

    raw = bytes(((x * 7 + y * 13 + c * 29 + seed) % 256)
                for y in range(h) for x in range(w) for c in range(3))
    img = PngImage(w, h, 8, 2, 3, w * 3, raw, None)
    assert decode_png(encode_png(img)).raw == raw


# --------------------------------------------------------------- resample


@settings(**_SETTINGS)
@given(
    samples=st.lists(
        st.integers(min_value=-(1 << 15), max_value=(1 << 15) - 1),
        min_size=1, max_size=120,
    ),
)
def test_resample_double_recovers_phase0(samples):
    """Up 2x then down 2x recovers the input exactly (phase-0 property
    of the exact-rational resampler)."""
    from attic.operators.wav import WavAudio, resample_linear

    a = WavAudio(1, 1, 8000, 16, len(samples),
                 struct.pack(f"<{len(samples)}h", *samples))
    down = resample_linear(resample_linear(a, 16000), 8000)
    assert down.samples() == samples


# ------------------------------------------------------------ containers


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=1 << 30),
    w=st.integers(min_value=1, max_value=16),
    h=st.integers(min_value=1, max_value=16),
    endian=st.sampled_from(["<", ">"]),
)
def test_tiff_gray_roundtrip_bitexact(seed, w, h, endian):
    from hbase_observer_es_spark.operators.tiff import decode_tiff
    from tests.test_tiff import _tiff

    px = bytes(((i * 37 + seed) % 256) for i in range(w * h))
    img = decode_tiff(_tiff(px, w, h, endian=endian))
    assert (img.width, img.height, img.raw) == (w, h, px)


@settings(**_SETTINGS)
@given(
    seed=st.integers(min_value=0, max_value=1 << 30),
    w=st.integers(min_value=1, max_value=12),
    h=st.integers(min_value=1, max_value=12),
)
def test_bmp_roundtrip_through_stride_padding(seed, w, h):
    """Any geometry survives the 4-byte row padding and BGR swap."""
    import struct as _struct

    from hbase_observer_es_spark.operators.bmp import decode_bmp

    stride = (w * 3 + 3) & ~3
    rows = []
    want = bytearray()
    for y in range(h):
        row = bytearray()
        for x in range(w):
            r, g, b = ((x + seed) % 256, (y + seed) % 256, ((x * y) + seed) % 256)
            row += bytes((b, g, r))  # stored BGR
            want += bytes((r, g, b))
        rows.append(bytes(row) + b"\x00" * (stride - w * 3))
    pixel_rows = b"".join(reversed(rows))  # stored bottom-up
    info = _struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, 0, 0, 0, 0, 0)
    data = b"BM" + _struct.pack("<III", 14 + len(info) + len(pixel_rows), 0, 14 + len(info)) + info + pixel_rows
    img = decode_bmp(data)
    assert img.raw == bytes(want)


@settings(max_examples=10, deadline=None)
@given(
    n_frames=st.integers(min_value=1, max_value=6),
    seed=st.integers(min_value=0, max_value=1 << 20),
)
def test_avi_mjpeg_roundtrip_frame_exact(n_frames, seed):
    from hbase_observer_es_spark.operators.avi import parse_avi, write_avi_mjpeg
    from hbase_observer_es_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage

    jpegs = []
    for k in range(n_frames):
        raw = bytes(((x * 7 + y * 13 + seed + k * 31) % 256)
                    for y in range(8) for x in range(8))
        jpegs.append(encode_jpeg(PngImage(8, 8, 8, 0, 1, 8, raw, None), quality=100))
    stream, frames = parse_avi(write_avi_mjpeg(jpegs, 8, 8, 1, 25))
    assert len(frames) == n_frames
    for payload, img in zip(jpegs, frames):
        # gray MJPEG widens to RGB; every channel must equal the source
        want = decode_jpeg(payload).raw
        assert img.raw[0::3] == want and img.raw[1::3] == want
