"""WAV/PCM audio decode from the public RIFF/WAVE format, stdlib-only.

The multimodal family treats audio as opaque binary + typed metadata, with
real decode gated on what the container can honestly implement. WAV needs
no codec library at all: the RIFF container and PCM sample layout are
fully public, and ``struct`` covers every byte — the same from-spec
discipline as the PNG decoder (``operators/png.py``) and the Avro/snappy
readers. Implemented subset:

* RIFF walk: ``RIFF`` size ``WAVE``, then length-prefixed chunks with the
  spec's even-byte padding rule; unknown chunks skipped, ``fmt `` and
  ``data`` required, duplicates refused;
* ``fmt `` parse with cross-field validation (``block_align`` =
  channels × bytes/sample, ``byte_rate`` = rate × block_align — a lying
  header dies loudly, never misframes samples);
* sample formats: PCM unsigned 8-bit, signed little-endian 16/24/32-bit,
  IEEE float32/float64 (format tag 3), G.711 a-law/mu-law telephony
  audio (tags 6/7 — expanded to 16-bit linear at the parse boundary by
  the classic segment formulas, bit-identical to the stdlib audioop
  reference, so everything downstream sees plain PCM), and IMA/DVI
  ADPCM (tag 0x11, r13 — per-block predictor/step-index headers,
  interleaved 4-byte channel words, low-nibble-first, the canonical
  89-entry step table pinned bit-identical to audioop's adpcm2lin, fact
  chunk trimming the final block; expanded to 16-bit PCM the same way).
  The remaining compressed/extensible tags (MS-ADPCM tag 2, MP3,
  0xFFFE) are refused by name;
* per-sample access and integer-exact corpus features: peak amplitude,
  zero-crossing count, sum of absolute sample values — the cheap audio
  quality/filter signals, all integer arithmetic for PCM so a DuckDB or
  bit-exact-model mirror can reproduce them digit for digit.

Scale posture: like PNG, decode runs inside mapInPandas over Arrow
batches — payloads never shuffle, one clip in memory at a time, and the
feature reducers are single-pass streaming sums. ``sum_abs`` is bounded by
2^31 × n_samples, guarded against int64 overflow with a loud cap rather
than a silent wrap.

Reference parity: none (the reference has no media surface) — builder-brief
LLM-pipeline surface, the audio leg of SURVEY §2-D's multimodal family.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

WAV_HEADER = (b"RIFF", b"WAVE")  # bytes 0-3 and 8-11

_FORMAT_NAMES = {
    0x0002: "adpcm",
    0x0055: "mp3",
    0xFFFE: "wave-format-extensible",
}


def _g711_mulaw(u: int) -> int:
    """G.711 mu-law byte → 16-bit linear (the canonical expansion — the
    classic segment formula, bit-identical to the public reference
    tables; pinned against stdlib audioop in tests)."""
    u = ~u & 0xFF
    mag = ((((u & 0x0F) << 3) + 0x84) << ((u >> 4) & 7)) - 0x84
    return -mag if u & 0x80 else mag


def _g711_alaw(a: int) -> int:
    """G.711 A-law byte → 16-bit linear (sign bit SET is positive)."""
    v = a ^ 0x55
    exp = (v >> 4) & 7
    mant = v & 0x0F
    mag = (((mant << 4) + 0x108) << (exp - 1)) if exp else (mant << 4) + 8
    return mag if v & 0x80 else -mag


_MULAW = [_g711_mulaw(i) for i in range(256)]
_ALAW = [_g711_alaw(i) for i in range(256)]

# IMA/DVI ADPCM (WAV format tag 0x11): the canonical 89-entry step table
# and 4-bit index-adjust table — pinned bit-identical against the stdlib
# audioop reference in tests (the G.711 discipline)
_IMA_STEP = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX = (-1, -1, -1, -1, 2, 4, 6, 8)


def _decode_ima_adpcm(
    data: bytes, ch: int, rate: int, block_align: int, origin: str,
    fact_frames: int | None,
) -> "WavAudio":
    """IMA ADPCM blocks → 16-bit linear PCM (the G.711 expand-at-the-
    parse-boundary convention, so every downstream audio operator sees
    plain PCM). Block layout per the public WAV-IMA framing: a 4-byte
    per-channel header (int16 predictor — emitted as the first sample —
    a step index, a reserved byte), then 4-byte data words interleaved
    one per channel, nibbles LOW-first within each byte."""
    header = 4 * ch
    body = block_align - header
    if block_align < header or body % (4 * ch):
        raise ValueError(
            f"wav {origin}: ima-adpcm block_align {block_align} does not "
            f"frame {ch} channel(s) (4-byte header + 4-byte words per "
            "channel)"
        )
    spb = body // (4 * ch) * 8 + 1  # samples per block per channel
    n_blocks = len(data) // block_align
    out: list = []
    step_t, index_t = _IMA_STEP, _IMA_INDEX
    for b in range(n_blocks):
        base = b * block_align
        preds, idxs, chans = [], [], []
        for c in range(ch):
            (p,) = struct.unpack_from("<h", data, base + 4 * c)
            idx = data[base + 4 * c + 2]
            if idx > 88:
                raise ValueError(
                    f"wav {origin}: ima-adpcm block {b} channel {c} step "
                    f"index {idx} > 88 — corrupt stream"
                )
            preds.append(p)
            idxs.append(idx)
            chans.append([p])
        pos = base + header
        block_end = base + block_align
        while pos < block_end:
            for c in range(ch):
                pred, idx, lst = preds[c], idxs[c], chans[c]
                for byte in data[pos : pos + 4]:
                    for nib in (byte & 0xF, byte >> 4):
                        step = step_t[idx]
                        diff = step >> 3
                        if nib & 1:
                            diff += step >> 2
                        if nib & 2:
                            diff += step >> 1
                        if nib & 4:
                            diff += step
                        pred = pred - diff if nib & 8 else pred + diff
                        if pred < -32768:
                            pred = -32768
                        elif pred > 32767:
                            pred = 32767
                        idx += index_t[nib & 7]
                        if idx < 0:
                            idx = 0
                        elif idx > 88:
                            idx = 88
                        lst.append(pred)
                preds[c], idxs[c] = pred, idx
                pos += 4
        for si in range(spb):
            for c in range(ch):
                out.append(chans[c][si])
    total = n_blocks * spb
    if fact_frames is not None and fact_frames != total:
        if not (total - spb < fact_frames <= total):
            raise ValueError(
                f"wav {origin}: fact chunk declares {fact_frames} frames "
                f"but the {n_blocks} block(s) decode {total} — only the "
                "final block may be partial"
            )
        out = out[: fact_frames * ch]
        total = fact_frames
    return WavAudio(
        fmt_tag=1,
        channels=ch,
        sample_rate=rate,
        bit_depth=16,
        n_frames=total,
        data=struct.pack(f"<{len(out)}h", *out),
    )


def looks_like_wav(payload: bytes) -> bool:
    return payload[:4] == WAV_HEADER[0] and payload[8:12] == WAV_HEADER[1]


@dataclass
class WavAudio:
    """Decoded clip: ``data`` is the raw interleaved sample bytes exactly as
    stored; accessors unpack per (frame, channel). ``fmt_tag`` is 1 (PCM)
    or 3 (IEEE float)."""

    fmt_tag: int
    channels: int
    sample_rate: int
    bit_depth: int
    n_frames: int
    data: bytes

    @property
    def duration_us(self) -> int:
        """Microseconds, floor — exact integer division by the sample rate."""
        return (self.n_frames * 1_000_000) // self.sample_rate

    def sample(self, frame: int, ch: int) -> int | float:
        """One sample value: signed int for PCM (8-bit unsigned is
        re-centered to signed per the spec's convention: stored 0..255,
        midpoint 128), float for IEEE."""
        if not (0 <= frame < self.n_frames and 0 <= ch < self.channels):
            raise IndexError(
                f"sample ({frame}, {ch}) outside {self.n_frames}x{self.channels}"
            )
        bps = self.bit_depth // 8
        off = (frame * self.channels + ch) * bps
        b = self.data[off : off + bps]
        if self.fmt_tag == 3:
            return struct.unpack("<f" if bps == 4 else "<d", b)[0]
        if bps == 1:
            return b[0] - 128
        v = int.from_bytes(b, "little", signed=True)
        return v

    def samples(self) -> list:
        """ALL samples, interleaved (frame-major, channel-minor), decoded in
        ONE pass — the bulk accessor the feature reducers use; per-sample
        ``sample()`` calls in a hot loop are ~3 interpreted operations per
        value, this is one struct.unpack for the whole buffer."""
        n = self.n_frames * self.channels
        if self.fmt_tag == 3:
            return list(
                struct.unpack(f"<{n}{'f' if self.bit_depth == 32 else 'd'}", self.data)
            )
        if self.bit_depth == 8:
            return [b - 128 for b in self.data]
        if self.bit_depth == 16:
            return list(struct.unpack(f"<{n}h", self.data))
        if self.bit_depth == 32:
            return list(struct.unpack(f"<{n}i", self.data))
        # 24-bit: no struct code — sign-extend three little-endian bytes
        d = self.data
        return [
            int.from_bytes(d[i : i + 3], "little", signed=True)
            for i in range(0, len(d), 3)
        ]


def parse_wav(data: bytes, origin: str = "<bytes>") -> WavAudio:
    """Parse one RIFF/WAVE file. Fail-loud with ``origin`` context on any
    structural violation; compressed formats refused by name."""
    if not looks_like_wav(data):
        raise ValueError(
            f"wav {origin}: not a RIFF/WAVE stream "
            f"(bytes 0-3 {data[:4]!r}, 8-11 {data[8:12]!r})"
        )
    (riff_size,) = struct.unpack("<I", data[4:8])
    if riff_size + 8 != len(data):
        raise ValueError(
            f"wav {origin}: RIFF size {riff_size} + 8 != file size {len(data)}"
        )
    pos = 12
    fmt = None
    frames_data = None
    fact_frames = None
    while pos < len(data):
        if pos + 8 > len(data):
            raise ValueError(f"wav {origin}: truncated chunk header at byte {pos}")
        ctype = data[pos : pos + 4]
        (length,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        end = pos + 8 + length
        if end > len(data):
            raise ValueError(
                f"wav {origin}: chunk {ctype!r} at byte {pos} overruns the "
                f"file (declared length {length})"
            )
        payload = data[pos + 8 : end]
        if ctype == b"fmt ":
            if fmt is not None:
                raise ValueError(f"wav {origin}: duplicate fmt chunk")
            if length < 16:
                raise ValueError(f"wav {origin}: fmt chunk length {length} < 16")
            tag, ch, rate, byte_rate, block_align, depth = struct.unpack(
                "<HHIIHH", payload[:16]
            )
            if tag not in (1, 3, 6, 7, 0x11):
                name = _FORMAT_NAMES.get(tag, f"0x{tag:04x}")
                raise ValueError(
                    f"wav {origin}: compressed/extensible format {name} "
                    "unsupported (PCM, IEEE float, G.711 a-law/mu-law, "
                    "IMA ADPCM)"
                )
            if tag == 0x11 and depth != 4:
                raise ValueError(
                    f"wav {origin}: ima-adpcm needs 4-bit samples, "
                    f"got {depth}"
                )
            if tag in (6, 7) and depth != 8:
                raise ValueError(
                    f"wav {origin}: {'a-law' if tag == 6 else 'mu-law'} "
                    f"(G.711) needs 8-bit samples, got {depth}"
                )
            if tag == 1 and depth not in (8, 16, 24, 32):
                raise ValueError(
                    f"wav {origin}: PCM bit depth {depth} unsupported "
                    "(8/16/24/32)"
                )
            if tag == 3 and depth not in (32, 64):
                raise ValueError(
                    f"wav {origin}: IEEE float bit depth {depth} unsupported "
                    "(32/64)"
                )
            if ch == 0 or rate == 0:
                raise ValueError(
                    f"wav {origin}: zero channels ({ch}) or sample rate ({rate})"
                )
            if tag != 0x11 and block_align != ch * (depth // 8):
                raise ValueError(
                    f"wav {origin}: block_align {block_align} != channels "
                    f"{ch} x {depth // 8} bytes/sample — refusing to guess "
                    "the frame layout"
                )
            if tag != 0x11 and byte_rate != rate * block_align:
                raise ValueError(
                    f"wav {origin}: byte_rate {byte_rate} != sample_rate "
                    f"{rate} x block_align {block_align}"
                )
            fmt = (tag, ch, rate, block_align, depth)
        elif ctype == b"fact":
            if length < 4:
                raise ValueError(f"wav {origin}: fact chunk length {length} < 4")
            (fact_frames,) = struct.unpack("<I", payload[:4])
        elif ctype == b"data":
            if frames_data is not None:
                raise ValueError(f"wav {origin}: duplicate data chunk")
            frames_data = payload
        # spec: chunks pad to even total length; the pad byte is not counted
        pos = end + (length & 1)
    if fmt is None:
        raise ValueError(f"wav {origin}: missing fmt chunk")
    if frames_data is None:
        raise ValueError(f"wav {origin}: missing data chunk")
    tag, ch, rate, block_align, depth = fmt
    if len(frames_data) % block_align:
        raise ValueError(
            f"wav {origin}: data length {len(frames_data)} not a multiple of "
            f"block_align {block_align} (torn final frame)"
        )
    if tag == 0x11:
        return _decode_ima_adpcm(
            frames_data, ch, rate, block_align, origin, fact_frames
        )
    if tag in (6, 7):
        # G.711 expands at the parse boundary: downstream sees plain
        # 16-bit linear PCM, so features/normalize/fingerprints compose
        # with zero special-casing (we never re-emit G.711 on write)
        table = _ALAW if tag == 6 else _MULAW
        return WavAudio(
            fmt_tag=1,
            channels=ch,
            sample_rate=rate,
            bit_depth=16,
            n_frames=len(frames_data) // block_align,
            data=struct.pack(
                f"<{len(frames_data)}h", *(table[b] for b in frames_data)
            ),
        )
    return WavAudio(
        fmt_tag=tag,
        channels=ch,
        sample_rate=rate,
        bit_depth=depth,
        n_frames=len(frames_data) // block_align,
        data=frames_data,
    )


_SUM_ABS_CAP = (1 << 62)  # loud guard far under int64 overflow


def _int_scaled(flat: list, ch_n: int, origin: str) -> list:
    """IEEE-float samples → integer feature domain (×2^15, truncated), with
    the NaN/inf refusal — the one place float prep happens so per-clip and
    per-window reducers agree digit for digit."""
    import math

    if not all(map(math.isfinite, flat)):
        bad = next(i for i, v in enumerate(flat) if not math.isfinite(v))
        raise ValueError(
            f"wav {origin}: non-finite IEEE sample (NaN/inf) at frame "
            f"{bad // ch_n} channel {bad % ch_n} — corrupt or "
            "unnormalized audio, refusing to fold it into features"
        )
    return [int(v * (1 << 15)) for v in flat]


def _reduce_flat(flat: list, ch_n: int, origin: str) -> tuple:
    """(peak, zero_crossings, sum_abs) over one interleaved int sample run —
    the single-pass core shared by the per-clip and per-window reducers.
    ZCR state starts cold (prev_sign 0), so a window's count is independent
    of its neighbours, matching a standalone decode of the same frames."""
    peak = 0
    sum_abs = 0
    crossings = 0
    prev_sign = 0
    for i, v in enumerate(flat):
        a = -v if v < 0 else v
        if a > peak:
            peak = a
        sum_abs += a
        if sum_abs > _SUM_ABS_CAP:
            raise ValueError(
                f"wav {origin}: sum_abs exceeds the int64 guard — clip "
                "longer than ~2^31 frames at full scale; shard the clip "
                "or widen the accumulator"
            )
        if i % ch_n == 0:  # channel-0 stream drives the ZCR
            s = (1 if v > 0 else -1) if v != 0 else prev_sign
            if prev_sign != 0 and s != prev_sign:
                crossings += 1
            prev_sign = s
    return peak, crossings, sum_abs


def wav_features(audio: WavAudio, origin: str = "<clip>") -> dict:
    """Single-pass integer-exact corpus features over ALL channels:

    * ``peak`` — max absolute sample value (int for PCM; floats are scaled
      by 2^15 and truncated so the column stays integer-typed);
    * ``zero_crossings`` — sign changes between consecutive frames on
      channel 0 (zero samples carry the previous sign, the standard ZCR
      convention for runs);
    * ``sum_abs`` — sum of absolute sample values, the silence/clipping
      screen; guarded against int64 overflow.

    These are the cheap pre-filter signals (silence, clipping, dead
    channels) a pipeline runs before any expensive model featurization —
    deliberately transcendental-free (no dB/log) per the engine's D10
    hash-stability rule. IEEE-float clips containing NaN/inf samples are
    refused by name with ``origin`` context (corrupted scraped audio must
    be identifiable, not an anonymous executor OverflowError)."""
    ch_n = audio.channels
    flat = audio.samples()  # ONE bulk decode; the reducer is pure ints
    if audio.fmt_tag == 3:
        flat = _int_scaled(flat, ch_n, origin)
    peak, crossings, sum_abs = _reduce_flat(flat, ch_n, origin)
    return {
        "sample_rate": audio.sample_rate,
        "channels": audio.channels,
        "bit_depth": audio.bit_depth,
        "n_frames": audio.n_frames,
        "duration_us": audio.duration_us,
        "peak": peak,
        "zero_crossings": crossings,
        "sum_abs": sum_abs,
    }


AUDIO_FEATURE_SCHEMA = (
    "sample_rate long, channels long, bit_depth long, n_frames long,"
    " duration_us long, peak long, zero_crossings long, sum_abs long"
)


def audio_features_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """mapInPandas feature extraction over a binary audio column (WAV or
    FLAC by payload magic) — the audio twin of the image decode plumbing:
    Arrow batches in, one typed feature row per clip out, no shuffle
    (payloads die executor-side)."""
    import pandas as pd

    from attic.operators.flac import decode_audio

    def extract(batches):
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    id_col, "sample_rate", "channels", "bit_depth", "n_frames",
                    "duration_us", "peak", "zero_crossings", "sum_abs",
                )
            }
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                origin = str(key)
                feats = wav_features(
                    decode_audio(bytes(payload), origin=origin), origin=origin
                )
                rows[id_col].append(key)
                for k, v in feats.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, f"{id_col} long, {AUDIO_FEATURE_SCHEMA}")


# ------------------------------------------------------------------ writer


def write_wav(audio: WavAudio) -> bytes:
    """Serialize a :class:`WavAudio` back to a spec-valid RIFF/WAVE byte
    stream. Field combinations are validated against the SAME rules
    ``parse_wav`` enforces (tag/depth pairing, nonzero channels and rate,
    exact data geometry) so every byte stream this emits parses back —
    a hand-built ``WavAudio`` that lies about its geometry dies here, not
    in a downstream reader. Non-PCM output (tag 3) carries the ``fact``
    chunk the WAVE spec mandates for compressed/float formats (frame
    count; ``parse_wav`` skips it as an unknown chunk). Deterministic —
    same clip in, same bytes out — so re-exports are diffable (the sink
    convention), and ``parse_wav(write_wav(a))`` round-trips every field
    and sample bit-exactly."""
    if audio.fmt_tag not in (1, 3):
        raise ValueError(f"wav: cannot write format tag {audio.fmt_tag}")
    if audio.fmt_tag == 1 and audio.bit_depth not in (8, 16, 24, 32):
        raise ValueError(
            f"wav: PCM bit depth {audio.bit_depth} unwritable (8/16/24/32)"
        )
    if audio.fmt_tag == 3 and audio.bit_depth not in (32, 64):
        raise ValueError(
            f"wav: IEEE float bit depth {audio.bit_depth} unwritable (32/64)"
        )
    if audio.channels < 1 or audio.sample_rate < 1:
        raise ValueError(
            f"wav: zero channels ({audio.channels}) or sample rate "
            f"({audio.sample_rate})"
        )
    block_align = audio.channels * (audio.bit_depth // 8)
    if len(audio.data) != audio.n_frames * block_align:
        raise ValueError(
            f"wav: data length {len(audio.data)} != n_frames "
            f"{audio.n_frames} x block_align {block_align}"
        )
    fmt = struct.pack(
        "<HHIIHH",
        audio.fmt_tag,
        audio.channels,
        audio.sample_rate,
        audio.sample_rate * block_align,
        block_align,
        audio.bit_depth,
    )
    fact = (
        b"" if audio.fmt_tag == 1
        else b"fact" + struct.pack("<II", 4, audio.n_frames)
    )
    pad = b"\x00" if len(audio.data) & 1 else b""
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + fact
        + b"data" + struct.pack("<I", len(audio.data)) + audio.data + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def slice_frames(audio: WavAudio, start: int, n: int) -> WavAudio:
    """Frame-range view [start, start+n) as a standalone clip — the
    segmentation primitive. Bounds are validated loudly; the slice shares
    no state with the parent (bytes are immutable)."""
    if start < 0 or n < 1 or start + n > audio.n_frames:
        raise ValueError(
            f"wav: slice [{start}, {start + n}) outside 0..{audio.n_frames}"
        )
    ba = audio.channels * (audio.bit_depth // 8)
    return WavAudio(
        fmt_tag=audio.fmt_tag,
        channels=audio.channels,
        sample_rate=audio.sample_rate,
        bit_depth=audio.bit_depth,
        n_frames=n,
        data=audio.data[start * ba : (start + n) * ba],
    )


# -------------------------------------------------------------- normalize


def to_mono(audio: WavAudio) -> WavAudio:
    """Downmix to one channel: per-frame mean across channels, floor
    division (Python ``//`` — toward -inf, deterministic on negatives).
    PCM only; float clips convert via :func:`to_pcm16` first so the whole
    normalize chain stays integer-exact."""
    if audio.fmt_tag != 1:
        raise ValueError(
            f"wav: to_mono needs PCM input (format tag {audio.fmt_tag}); "
            "convert with to_pcm16 first"
        )
    if audio.channels == 1:
        return audio
    flat = audio.samples()
    ch = audio.channels
    mono = [
        sum(flat[i : i + ch]) // ch for i in range(0, len(flat), ch)
    ]
    return WavAudio(
        fmt_tag=1,
        channels=1,
        sample_rate=audio.sample_rate,
        bit_depth=audio.bit_depth,
        n_frames=audio.n_frames,
        data=_pack_ints(mono, audio.bit_depth),
    )


def _pack_ints(vals: list, bit_depth: int) -> bytes:
    """Interleaved int samples → the PCM byte layout parse_wav reads."""
    if bit_depth == 8:
        return bytes(v + 128 for v in vals)
    if bit_depth == 16:
        return struct.pack(f"<{len(vals)}h", *vals)
    if bit_depth == 32:
        return struct.pack(f"<{len(vals)}i", *vals)
    return b"".join(v.to_bytes(3, "little", signed=True) for v in vals)


def to_pcm16(audio: WavAudio, origin: str = "<clip>") -> WavAudio:
    """Bit-depth conversion to signed 16-bit PCM, the training-corpus
    operating point: 8-bit shifts up (×256), 24/32-bit arithmetic-shift
    down (floor), IEEE float scales by 2^15 with truncation and saturating
    clamp — every path integer-exact and transcendental-free. Non-finite
    float samples refuse with ``origin`` + frame/channel context (the
    module's fail-loud convention, via :func:`_int_scaled`)."""
    if audio.fmt_tag == 1 and audio.bit_depth == 16:
        return audio
    flat = audio.samples()
    if audio.fmt_tag == 3:
        vals = [
            max(-32768, min(32767, v))
            for v in _int_scaled(flat, audio.channels, origin)
        ]
    elif audio.bit_depth == 8:
        vals = [v << 8 for v in flat]
    else:  # 24- or 32-bit: floor shift keeps sign exactly
        shift = audio.bit_depth - 16
        vals = [v >> shift for v in flat]
    return WavAudio(
        fmt_tag=1,
        channels=audio.channels,
        sample_rate=audio.sample_rate,
        bit_depth=16,
        n_frames=audio.n_frames,
        data=_pack_ints(vals, 16),
    )


def resample_linear(audio: WavAudio, out_rate: int) -> WavAudio:
    """Sample-rate conversion by integer-exact linear interpolation.

    Output frame t sits at input position t·in/out, split into an integer
    index and an exact rational fraction: ``i = (t·in) // out``,
    ``frac = (t·in) % out``, ``v = s[i] + ((s[i+1] − s[i])·frac) // out``
    — pure int64 arithmetic, so the same clip resamples to the same bytes
    on every host (no float phase accumulator to drift). The final output
    frame clamps to the last input sample. Zero-frame clips pass through
    (nothing to interpolate). PCM only — run :func:`to_pcm16` first.

    Linear interpolation is the documented quality trade: no anti-alias
    filter, so downsampling can alias (fine for the silence/energy screens
    and dedup fingerprints this feeds; a model-grade pipeline would swap
    in a windowed-sinc stage). n_out = floor(n_in · out/in) keeps duration
    within one frame of exact."""
    if audio.fmt_tag != 1:
        raise ValueError(
            f"wav: resample needs PCM input (format tag {audio.fmt_tag})"
        )
    if out_rate < 1:
        raise ValueError(f"wav: out_rate {out_rate} must be >= 1")
    if out_rate == audio.sample_rate or audio.n_frames == 0:
        return WavAudio(
            fmt_tag=1,
            channels=audio.channels,
            sample_rate=out_rate,
            bit_depth=audio.bit_depth,
            n_frames=audio.n_frames,
            data=audio.data,
        )
    flat = audio.samples()
    ch = audio.channels
    in_rate = audio.sample_rate
    n_in = audio.n_frames
    n_out = max(1, (n_in * out_rate) // in_rate)
    out = []
    for t in range(n_out):
        num = t * in_rate
        i = num // out_rate
        frac = num % out_rate
        if i >= n_in - 1:
            i, frac = n_in - 1, 0
        base = i * ch
        for c in range(ch):
            a = flat[base + c]
            if frac:
                b = flat[base + ch + c]
                out.append(a + ((b - a) * frac) // out_rate)
            else:
                out.append(a)
    return WavAudio(
        fmt_tag=1,
        channels=ch,
        sample_rate=out_rate,
        bit_depth=audio.bit_depth,
        n_frames=n_out,
        data=_pack_ints(out, audio.bit_depth),
    )


def normalize_audio(
    audio: WavAudio, rate: int = 16000, origin: str = "<clip>"
) -> WavAudio:
    """The ASR-prep normalization chain: 16-bit PCM → mono downmix →
    ``rate`` Hz. Every step is integer-exact, so normalize(normalize(x))
    == normalize(x) byte-for-byte and re-exports are diffable."""
    return resample_linear(to_mono(to_pcm16(audio, origin)), rate)


NORMALIZED_SCHEMA = "payload binary, n_frames long, duration_us long"


def audio_normalize_frame(
    df, rate: int = 16000, payload_col: str = "payload", id_col: str = "doc_id"
):
    """mapInPandas normalization over a binary WAV column: each clip
    re-emerges as a mono 16-bit ``rate``-Hz RIFF payload (write_wav bytes,
    ready for a WebDataset sink) plus its new geometry. Payloads transform
    executor-side per Arrow batch — no shuffle, one clip in memory at a
    time, deterministic output bytes. Payloads dispatch by magic (WAV or
    FLAC)."""
    import pandas as pd

    from attic.operators.flac import decode_audio

    def normalize(batches):
        for pdf in batches:
            keys, payloads, frames, durs = [], [], [], []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                origin = str(key)
                a = normalize_audio(
                    decode_audio(bytes(payload), origin=origin), rate, origin=origin
                )
                keys.append(key)
                payloads.append(write_wav(a))
                frames.append(a.n_frames)
                durs.append(a.duration_us)
            yield pd.DataFrame(
                {
                    id_col: keys,
                    "payload": payloads,
                    "n_frames": frames,
                    "duration_us": durs,
                }
            )

    return df.mapInPandas(normalize, f"{id_col} long, {NORMALIZED_SCHEMA}")


SEGMENT_SCHEMA = (
    "seg_idx long, sample_rate long, start_frame long, n_frames long,"
    " peak long, zero_crossings long, sum_abs long"
)


def audio_segments_frame(
    df,
    window_frames: int,
    hop_frames: int | None = None,
    payload_col: str = "payload",
    id_col: str = "doc_id",
):
    """Windowed per-segment features: ONE payload row → MANY segment rows
    via mapInPandas (the q_mm_framesample fan-out shape, on real audio).
    Fixed ``window_frames`` windows every ``hop_frames`` (default:
    non-overlapping), trailing partial window kept — silence/energy
    screens need the tail, and the row carries its true ``n_frames``.
    This is the VAD/ASR-prep grain: downstream keeps segments whose
    ``sum_abs``/``peak`` clear a threshold and aligns transcripts per
    (id, seg_idx). Fan-out happens executor-side per Arrow batch — no
    shuffle, no payload duplication through the JVM.

    Each clip is decoded ONCE (one bulk ``samples()`` unpack + one float
    prep); windows reduce over flat int slices, so an overlapping hop pays
    window-arithmetic, never window × re-decode. A valid ZERO-frame clip
    (empty data chunk) emits one all-zero segment row rather than
    vanishing — per-doc joins and coverage checks keep seeing the id.
    Payloads dispatch by magic (WAV or FLAC). Rows carry the clip's
    sample_rate so downstream time math (caption alignment) is exact
    per document — mixed-rate corpora need no global rate."""
    import pandas as pd

    from attic.operators.flac import decode_audio

    if window_frames < 1:
        raise ValueError(f"wav: window_frames {window_frames} must be >= 1")
    hop = hop_frames if hop_frames is not None else window_frames
    if hop < 1:
        raise ValueError(f"wav: hop_frames {hop} must be >= 1")

    def segment(batches):
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    id_col, "seg_idx", "sample_rate", "start_frame",
                    "n_frames", "peak", "zero_crossings", "sum_abs",
                )
            }
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                origin = str(key)
                a = decode_audio(bytes(payload), origin=origin)
                ch_n = a.channels
                flat = a.samples()
                if a.fmt_tag == 3:
                    flat = _int_scaled(flat, ch_n, origin)
                idx = 0
                for start in range(0, max(a.n_frames, 1), hop):
                    n = min(window_frames, a.n_frames - start)
                    peak, crossings, sum_abs = _reduce_flat(
                        flat[start * ch_n : (start + n) * ch_n],
                        ch_n,
                        f"{origin}#{idx}",
                    )
                    rows[id_col].append(key)
                    rows["seg_idx"].append(idx)
                    rows["sample_rate"].append(a.sample_rate)
                    rows["start_frame"].append(start)
                    rows["n_frames"].append(n)
                    rows["peak"].append(peak)
                    rows["zero_crossings"].append(crossings)
                    rows["sum_abs"].append(sum_abs)
                    idx += 1
            yield pd.DataFrame(rows)

    return df.mapInPandas(segment, f"{id_col} long, {SEGMENT_SCHEMA}")
