"""IMA ADPCM (WAV format 0x11): the core nibble decoder pinned
bit-identical against the stdlib audioop reference (the G.711
discipline), hand-built mono/stereo block goldens, fact-chunk trimming,
guards, and composition with the PCM audio stack."""

from __future__ import annotations

import struct
import warnings

import pytest

from attic.operators.wav import parse_wav


def _fmt_chunk(ch, rate, block_align, tag=0x11, depth=4):
    body = struct.pack(
        "<HHIIHH", tag, ch, rate, rate * block_align, block_align, depth
    )
    return b"fmt " + struct.pack("<I", len(body)) + body


def _chunk(cc, body):
    pad = b"\x00" if len(body) & 1 else b""
    return cc + struct.pack("<I", len(body)) + body + pad


def _wav(*chunks):
    body = b"WAVE" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _block(preds_idxs, words_per_channel):
    """One IMA block: per-channel 4-byte headers then interleaved
    4-byte data words (low nibble first inside each byte)."""
    ch = len(preds_idxs)
    out = bytearray()
    for p, idx in preds_idxs:
        out += struct.pack("<hBB", p, idx, 0)
    n_words = len(words_per_channel[0])
    for w in range(n_words):
        for c in range(ch):
            out += words_per_channel[c][w]
    return bytes(out)


def _adpcm_wav(ch, rate, blocks, fact=None):
    block_align = len(blocks[0])
    chunks = [_fmt_chunk(ch, rate, block_align)]
    if fact is not None:
        chunks.append(_chunk(b"fact", struct.pack("<I", fact)))
    chunks.append(_chunk(b"data", b"".join(blocks)))
    return _wav(*chunks)


def test_mono_matches_audioop_reference():
    """Random nibble streams: the per-sample outputs must equal stdlib
    audioop.adpcm2lin started from the block header's (predictor,
    index) state. audioop consumes HIGH nibble first, WAV-IMA low
    first, so the reference bytes are nibble-swapped."""
    import random

    rng = random.Random(11)
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", DeprecationWarning)
        import audioop

    for trial in range(8):
        pred = rng.randrange(-32768, 32768)
        idx = rng.randrange(89)
        body = bytes(rng.randrange(256) for _ in range(16))  # 4 words
        wav = _adpcm_wav(1, 8000, [_block([(pred, idx)], [[body[i:i+4] for i in range(0, 16, 4)]])])
        audio = parse_wav(wav)
        assert (audio.fmt_tag, audio.bit_depth, audio.channels) == (1, 16, 1)
        got = struct.unpack(f"<{audio.n_frames}h", audio.data)
        swapped = bytes(((b & 0xF) << 4) | (b >> 4) for b in body)
        lin, _ = audioop.adpcm2lin(swapped, 2, (pred, idx))
        want = (pred,) + struct.unpack(f"<{len(lin)//2}h", lin)
        assert got == want, trial


def test_stereo_interleave_and_multiblock():
    """Two channels, two blocks: the header predictors come out as
    frame 0, channel words interleave 4 bytes at a time."""
    zero_word = b"\x00\x00\x00\x00"  # nibble 0: pred += step>>3
    b1 = _block([(100, 0), (-200, 0)], [[zero_word], [zero_word]])
    b2 = _block([(1000, 10), (2000, 20)], [[zero_word], [zero_word]])
    audio = parse_wav(_adpcm_wav(2, 16000, [b1, b2]))
    assert audio.channels == 2 and audio.n_frames == 18  # 2 blocks x 9
    frames = struct.unpack(f"<{audio.n_frames * 2}h", audio.data)
    assert frames[0] == 100 and frames[1] == -200  # header predictors
    assert frames[18] == 1000 and frames[19] == 2000  # block 2 frame 0
    # nibble 0 with index 0: step 7 -> diff 0 (7>>3), predictor holds
    assert frames[2] == 100 and frames[3] == -200


def test_fact_chunk_trims_final_block():
    body = [b"\x00\x00\x00\x00"]
    blk = _block([(5, 0)], [body])
    audio = parse_wav(_adpcm_wav(1, 8000, [blk], fact=6))
    assert audio.n_frames == 6  # 9 decoded, trimmed to the declared 6
    with pytest.raises(ValueError, match=r"only the final block may be partial"):
        parse_wav(_adpcm_wav(1, 8000, [blk], fact=20))


def test_guards_are_loud():
    blk = _block([(0, 0)], [[b"\x00\x00\x00\x00"]])
    # step index out of range
    bad = bytearray(blk)
    bad[2] = 99
    with pytest.raises(ValueError, match=r"step index 99 > 88"):
        parse_wav(_adpcm_wav(1, 8000, [bytes(bad)]))
    # block_align that does not frame the channels
    data = _adpcm_wav(1, 8000, [blk + b"\x00\x00"])  # 10 bytes: not 4+4k
    with pytest.raises(ValueError, match=r"does not frame 1 channel"):
        parse_wav(data)
    # wrong bit depth for the tag
    wav = _wav(_fmt_chunk(1, 8000, 8, depth=8), _chunk(b"data", blk))
    with pytest.raises(ValueError, match=r"ima-adpcm needs 4-bit samples"):
        parse_wav(wav)
    # MS-ADPCM (tag 2) stays a named refusal
    wav2 = _wav(_fmt_chunk(1, 8000, 8, tag=2, depth=4), _chunk(b"data", blk))
    with pytest.raises(ValueError, match=r"format adpcm unsupported"):
        parse_wav(wav2)


def test_composes_with_the_pcm_audio_stack():
    """Expansion happens at the parse boundary: features and the write
    path see plain 16-bit PCM."""
    from attic.operators.wav import wav_features, write_wav

    blk = _block([(123, 4)], [[b"\x12\x34\x56\x78"]])
    audio = parse_wav(_adpcm_wav(1, 8000, [blk]))
    f = wav_features(audio)
    assert f["n_frames"] == 9 and f["peak"] > 0
    rt = parse_wav(write_wav(audio))
    assert rt.data == audio.data
