"""From-spec LZ4 frame decoder (attic/operators/lz4.py).

Pinned by TWO independent real-world implementations: pyarrow's
bundled lz4 frame codec, and the system ``lz4`` CLI across its flag
matrix (block sizes, LINKED blocks, block checksums, the legacy
format, high-compression mode). ``lz4_raw`` pins the block decoder in
isolation; hand-assembled frames pin the paths encoders rarely emit;
hypothesis round trips close the loop; ``compress_lz4`` is pinned from
the other side by both independent decoders."""

from __future__ import annotations

import os
import random
import shutil
import subprocess
import tempfile

import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from attic.operators.lz4 import (
    _xxh32,
    compress_lz4,
    decompress_lz4,
    is_lz4,
    lz4_meta,
)

_RNG = random.Random(7)
_INPUTS = {
    "empty": b"",
    "one": b"x",
    "rle": b"a" * 100_000,
    "text": b"the quick brown fox jumps over the lazy dog. " * 3_000,
    "random": bytes(_RNG.randrange(256) for _ in range(150_000)),
    "structured": b"".join(
        bytes([i % 251]) * (i % 13 + 1) for i in range(20_000)
    ),
}


def test_xxh32_known_vectors():
    assert _xxh32(b"") == 0x02CC5D05
    assert _xxh32(b"a") == 0x550D7456
    assert _xxh32(b"abc") == 0x32D153FF


@pytest.mark.parametrize("name", sorted(_INPUTS))
def test_round_trip_vs_pyarrow(name):
    data = _INPUTS[name]
    comp = pa.Codec("lz4").compress(data, asbytes=True)
    assert is_lz4(comp)
    assert decompress_lz4(comp, max_output=1 << 26) == data


def test_concatenated_frames():
    a, b = b"first " * 500, b"second " * 333
    ca = pa.Codec("lz4").compress(a, asbytes=True)
    cb = pa.Codec("lz4").compress(b, asbytes=True)
    assert decompress_lz4(ca + cb) == a + b


def test_block_decoder_pinned_by_lz4_raw():
    """pyarrow's lz4_raw codec emits a BARE block — pinning
    _decode_block without any frame layer around it."""
    from attic.operators.lz4 import _decode_block

    data = b"repeat repeat repeat repeat tail " * 200
    raw = pa.Codec("lz4_raw").compress(data, asbytes=True)
    out = bytearray()
    _decode_block(raw, out, "raw", 0, 0, 1 << 22)
    assert bytes(out) == data


@pytest.mark.parametrize(
    "flags",
    [(), ("-B4",), ("-B7",), ("-BD",), ("-BX",), ("-BD", "-BX", "-B5"),
     ("-l",), ("--no-frame-crc",), ("-9", "-BD")],
)
def test_cli_flag_matrix(flags):
    """The system CLI is the second independent encoder: linked blocks
    (-BD matches reach across block boundaries), block checksums,
    every block-size code, the legacy frame, high compression."""
    if not shutil.which("lz4"):
        pytest.skip("no system lz4 CLI on this host")
    payload = (
        b"the quick brown fox jumps over the lazy dog. " * 2000
        + bytes(_RNG.randrange(256) for _ in range(50_000))
    )
    with tempfile.TemporaryDirectory() as d:
        pf = os.path.join(d, "p")
        with open(pf, "wb") as f:
            f.write(payload)
        out = os.path.join(d, "o.lz4")
        subprocess.run(["lz4", "-q", "-f", *flags, pf, out], check=True)
        with open(out, "rb") as f:
            comp = f.read()
        assert decompress_lz4(comp, max_output=1 << 26) == payload


def test_store_encoder_round_trips_both_independent_decoders():
    data = b"store-mode payload " * 5000 + bytes(range(256))
    frame = compress_lz4(data)
    assert decompress_lz4(frame) == data
    assert (
        pa.Codec("lz4").decompress(frame, len(data), asbytes=True) == data
    )
    if shutil.which("lz4"):
        with tempfile.TemporaryDirectory() as d:
            sf = os.path.join(d, "s.lz4")
            with open(sf, "wb") as f:
                f.write(frame)
            rt = os.path.join(d, "rt")
            subprocess.run(["lz4", "-q", "-d", "-f", sf, rt], check=True)
            with open(rt, "rb") as f:
                assert f.read() == data


def test_skippable_frames_and_meta():
    sk = (0x184D2A53).to_bytes(4, "little") + (4).to_bytes(4, "little") + b"meta"
    real = compress_lz4(b"after the metadata")
    assert decompress_lz4(sk + real) == b"after the metadata"
    assert decompress_lz4(real + sk) == b"after the metadata"
    m = lz4_meta(sk + real + real)
    assert m == {"content_size": 36, "checksum": True, "n_frames": 2}
    with pytest.raises(ValueError, match="skippable frame header truncated"):
        decompress_lz4(sk[:6])


def test_corruption_raises_with_offsets():
    frame = bytearray(compress_lz4(b"checksummed payload " * 50))
    bad = bytearray(frame)
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="content checksum mismatch"):
        decompress_lz4(bytes(bad))
    bad2 = bytearray(frame)
    bad2[4] ^= 0x10  # flip a FLG bit: header checksum must catch it
    with pytest.raises(ValueError, match="descriptor checksum"):
        decompress_lz4(bytes(bad2))
    with pytest.raises(ValueError, match="bad frame magic"):
        decompress_lz4(b"\x00\x01\x02\x03rest")
    with pytest.raises(ValueError, match="no frame header"):
        decompress_lz4(b"\x04\x22")
    comp = pa.Codec("lz4").compress(b"truncate me " * 500, asbytes=True)
    with pytest.raises(ValueError, match=r"lz4 .*byte \d+"):
        decompress_lz4(comp[: len(comp) - 6])


def test_hand_built_refusals():
    # dictionary frame: FLG with DictID bit, nonzero id
    flg, bd = 0x41, 0x40
    desc = bytes([flg, bd]) + (7).to_bytes(4, "little")
    hdr = (
        (0x184D2204).to_bytes(4, "little") + desc
        + bytes([(_xxh32(desc) >> 8) & 0xFF])
    )
    with pytest.raises(NotImplementedError, match="dictionary frame"):
        decompress_lz4(hdr + (0).to_bytes(4, "little"))
    # zero match offset inside a block
    blk = bytes([0x10]) + b"A" + b"\x00\x00" + bytes([0])
    flg2, bd2 = 0x60, 0x40
    desc2 = bytes([flg2, bd2])
    frame = (
        (0x184D2204).to_bytes(4, "little") + desc2
        + bytes([(_xxh32(desc2) >> 8) & 0xFF])
        + len(blk).to_bytes(4, "little") + blk
        + (0).to_bytes(4, "little")
    )
    with pytest.raises(ValueError, match="zero match offset"):
        decompress_lz4(frame)


def test_output_budget_is_loud():
    comp = pa.Codec("lz4").compress(b"a" * 1_000_000, asbytes=True)
    with pytest.raises(ValueError, match="exceeds the 1024-byte budget"):
        decompress_lz4(comp, max_output=1024)


@settings(deadline=None, max_examples=40)
@given(st.binary(max_size=4096))
def test_round_trip_property(data):
    comp = pa.Codec("lz4").compress(data, asbytes=True)
    assert decompress_lz4(comp) == data
    assert decompress_lz4(compress_lz4(data)) == data


def test_tar_lz4_shards_ingest():
    """.tar.lz4 decodes through the frame decoder inside the tar walk,
    and the census classifies bare lz4 blobs with header facts."""
    import io
    import tarfile

    from attic.operators.media_census import classify_media
    from attic.sources.tarsrc import _iter_members

    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tf:
        data = b"member one text\n" * 10
        info = tarfile.TarInfo("docs/a.txt")
        info.size = len(data)
        tf.addfile(info, io.BytesIO(data))
    shard = compress_lz4(buf.getvalue())
    members = list(_iter_members(shard, "s.tar.lz4"))
    assert [m[0] for m in members] == ["docs/a.txt"]
    assert members[0][1] == b"member one text\n" * 10

    row = classify_media(shard, origin="s.tar.lz4")
    assert (row["family"], row["format"]) == ("archive", "lz4")
    assert "bytes declared" in row["detail"] and "checksummed" in row["detail"]
