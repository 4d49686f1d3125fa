"""FLAC lossless audio from the public format specification, stdlib-only.

FLAC is the lossless audio format scraped music/speech corpora actually
carry, and it is decodable with pure integer arithmetic by design — no
DSP library, no floats, the engine's D10 determinism rule holds by
construction. Same from-spec discipline as the other real codecs
(``operators/{png,jpeg,gif,avi,wav}.py``): loud failures with
``origin`` context, header claims treated as attacker data. Implemented:

* ``fLaC`` magic + metadata walk (STREAMINFO mandatory and parsed:
  block/frame-size bounds, 20-bit sample rate, channels, bits/sample,
  36-bit total samples, the 16-byte **MD5 of the decoded samples** —
  VERIFIED after decode, so any decoder bug anywhere in the stack is a
  loud mismatch, not silently wrong audio); other blocks skipped;
* frame headers: sync code, blocking strategy, coded block size /
  sample rate (incl. end-of-header follow-ups), channel assignment,
  UTF-8-coded frame number, CRC-8 verified; frame footer CRC-16
  verified over the whole frame;
* subframes: CONSTANT, VERBATIM, FIXED orders 0–4, and LPC orders 1–32
  (quantized coefficients, shift, unbounded-int accumulation), plus the
  wasted-bits run;
* residuals: both Rice methods (4- and 5-bit parameters), partition
  orders, and the escape-to-raw case;
* stereo decorrelation: left-side, right-side, and mid-side exactly per
  spec.

The write direction (``encode_flac``) emits spec-valid files from
int-sample WavAudio-style input: CONSTANT subframes where a block is
flat, FIXED order-2 with Rice-coded residuals otherwise (a real, simple
compressor — not optimal, but honestly FLAC), correct CRC-8/CRC-16 and
the decoded-sample MD5 — so decode(encode(x)) is bit-exact and every
encoded stream self-verifies.

Scale posture: decode runs inside mapInPandas over Arrow batches
(payloads never shuffle; one frame of samples in memory at a time
during the walk, full clip only at the final assembly).
``flac_to_wav`` bridges into the WAV/feature/fingerprint stack.

Reference parity: none — builder-brief multimodal surface, SURVEY §2-D.
"""

from __future__ import annotations

import hashlib
import struct

FLAC_MAGIC = b"fLaC"

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}

_BLOCK_SIZE_CODES = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096, 13: 8192,
    14: 16384, 15: 32768,
}

_SAMPLE_RATE_CODES = {
    1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000, 6: 22050,
    7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000,
}

_SAMPLE_SIZE_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def looks_like_flac(payload: bytes) -> bool:
    return payload[:4] == FLAC_MAGIC


def _crc8(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16(data: bytes) -> int:
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005) & 0xFFFF if crc & 0x8000 else (crc << 1) & 0xFFFF
    return crc


class _Bits:
    """MSB-first bit reader over one frame span."""

    __slots__ = ("data", "pos", "origin")

    def __init__(self, data: bytes, pos_bits: int, origin: str):
        self.data = data
        self.pos = pos_bits
        self.origin = origin

    def take(self, n: int) -> int:
        end = self.pos + n
        if end > len(self.data) * 8:
            raise ValueError(f"flac {self.origin}: bitstream truncated")
        v = 0
        pos = self.pos
        d = self.data
        while n:
            byte = d[pos >> 3]
            avail = 8 - (pos & 7)
            grab = min(avail, n)
            v = (v << grab) | ((byte >> (avail - grab)) & ((1 << grab) - 1))
            pos += grab
            n -= grab
        self.pos = pos
        return v

    def take_signed(self, n: int) -> int:
        v = self.take(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        n = 0
        while self.take(1) == 0:
            n += 1
            if n > 1 << 24:
                raise ValueError(
                    f"flac {self.origin}: runaway unary run — corrupt stream"
                )
        return n

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


def _read_utf8_coded(bits: _Bits) -> int:
    """FLAC's UTF-8-style variable-length frame/sample number."""
    b0 = bits.take(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x40
    while b0 & mask:
        n += 1
        mask >>= 1
    if n < 1 or n > 6:
        raise ValueError(f"flac {bits.origin}: invalid coded-number lead byte {b0:#x}")
    v = b0 & (mask - 1)
    for _ in range(n):
        c = bits.take(8)
        if c >> 6 != 0b10:
            raise ValueError(
                f"flac {bits.origin}: invalid coded-number continuation {c:#x}"
            )
        v = (v << 6) | (c & 0x3F)
    return v


def _read_residual(bits: _Bits, block_size: int, order: int) -> list:
    method = bits.take(2)
    if method > 1:
        raise ValueError(f"flac {bits.origin}: residual method {method} reserved")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = bits.take(4)
    n_parts = 1 << porder
    if block_size % n_parts:
        raise ValueError(
            f"flac {bits.origin}: partition order {porder} does not divide "
            f"block size {block_size}"
        )
    out = []
    for p in range(n_parts):
        count = block_size // n_parts - (order if p == 0 else 0)
        if count < 0:
            raise ValueError(
                f"flac {bits.origin}: predictor order {order} exceeds the "
                "first partition"
            )
        param = bits.take(pbits)
        if param == escape:
            raw = bits.take(5)
            for _ in range(count):
                out.append(bits.take_signed(raw) if raw else 0)
        else:
            for _ in range(count):
                q = bits.unary()
                r = bits.take(param) if param else 0
                zz = (q << param) | r
                out.append((zz >> 1) ^ -(zz & 1))  # zigzag
    return out


def _predict(warmup: list, coefs: list, shift: int, residual: list) -> list:
    out = list(warmup)
    for res in residual:
        acc = 0
        for j, c in enumerate(coefs):
            acc += c * out[-1 - j]
        out.append(res + (acc >> shift))
    return out


def _read_subframe(bits: _Bits, block_size: int, bps: int) -> list:
    if bits.take(1):
        raise ValueError(f"flac {bits.origin}: subframe pad bit set")
    sf_type = bits.take(6)
    wasted = 0
    if bits.take(1):
        wasted = 1 + bits.unary()
    eff = bps - wasted
    if eff < 1:
        raise ValueError(
            f"flac {bits.origin}: wasted bits {wasted} consume the sample width"
        )
    if sf_type == 0:  # CONSTANT
        v = bits.take_signed(eff)
        samples = [v] * block_size
    elif sf_type == 1:  # VERBATIM
        samples = [bits.take_signed(eff) for _ in range(block_size)]
    elif 8 <= sf_type <= 12:  # FIXED
        order = sf_type - 8
        warmup = [bits.take_signed(eff) for _ in range(order)]
        residual = _read_residual(bits, block_size, order)
        samples = _predict(warmup, _FIXED_COEFS[order], 0, residual)
    elif sf_type >= 32:  # LPC
        order = sf_type - 31
        warmup = [bits.take_signed(eff) for _ in range(order)]
        prec = bits.take(4)
        if prec == 15:
            raise ValueError(f"flac {bits.origin}: LPC precision code 15 invalid")
        prec += 1
        shift = bits.take_signed(5)
        if shift < 0:
            raise ValueError(f"flac {bits.origin}: negative LPC shift {shift}")
        coefs = [bits.take_signed(prec) for _ in range(order)]
        residual = _read_residual(bits, block_size, order)
        samples = _predict(warmup, coefs, shift, residual)
    else:
        raise ValueError(f"flac {bits.origin}: subframe type {sf_type} reserved")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def parse_flac(data: bytes, origin: str = "<bytes>") -> dict:
    """Decode one FLAC stream → {"sample_rate", "channels", "bit_depth",
    "n_frames", "samples" (interleaved ints)} with the STREAMINFO MD5
    verified over the decoded output — the format's own end-to-end
    correctness oracle."""
    if not looks_like_flac(data):
        raise ValueError(f"flac {origin}: not a FLAC stream (bytes 0-3 {data[:4]!r})")
    pos = 4
    streaminfo = None
    last = False
    while not last:
        if pos + 4 > len(data):
            raise ValueError(f"flac {origin}: truncated metadata block header")
        hdr = data[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + length]
        if len(body) != length:
            raise ValueError(f"flac {origin}: metadata block {btype} truncated")
        if btype == 0:
            if length != 34:
                raise ValueError(
                    f"flac {origin}: STREAMINFO of {length} bytes (need 34)"
                )
            streaminfo = body
        elif btype == 127:
            raise ValueError(f"flac {origin}: metadata block type 127 invalid")
        pos += 4 + length
    if streaminfo is None:
        raise ValueError(f"flac {origin}: missing STREAMINFO")
    si = int.from_bytes(streaminfo[10:18], "big")
    sample_rate = si >> 44
    channels = ((si >> 41) & 0x7) + 1
    bps = ((si >> 36) & 0x1F) + 1
    total = si & ((1 << 36) - 1)
    md5 = streaminfo[18:34]
    if sample_rate == 0:
        raise ValueError(f"flac {origin}: zero sample rate in STREAMINFO")
    chans: list = [[] for _ in range(channels)]
    while pos < len(data):
        frame_start = pos
        bits = _Bits(data, pos * 8, origin)
        sync = bits.take(14)
        if sync != 0b11111111111110:
            raise ValueError(
                f"flac {origin}: bad frame sync {sync:#x} at byte {frame_start}"
            )
        if bits.take(1):
            raise ValueError(f"flac {origin}: reserved frame-header bit set")
        bits.take(1)  # blocking strategy
        bs_code = bits.take(4)
        sr_code = bits.take(4)
        ch_code = bits.take(4)
        ss_code = bits.take(3)
        if bits.take(1):
            raise ValueError(f"flac {origin}: reserved frame-header bit 31 set")
        _read_utf8_coded(bits)
        if bs_code == 0:
            raise ValueError(f"flac {origin}: block size code 0 reserved")
        elif bs_code == 6:
            block_size = bits.take(8) + 1
        elif bs_code == 7:
            block_size = bits.take(16) + 1
        else:
            block_size = _BLOCK_SIZE_CODES[bs_code]
        if sr_code == 12:
            bits.take(8)
        elif sr_code in (13, 14):
            bits.take(16)
        elif sr_code == 15:
            raise ValueError(f"flac {origin}: sample rate code 15 invalid")
        if ss_code in (1, 2, 4, 5, 6, 7):
            frame_bps = _SAMPLE_SIZE_CODES[ss_code]
        elif ss_code == 0:
            frame_bps = bps
        else:
            raise ValueError(f"flac {origin}: sample size code {ss_code} reserved")
        if frame_bps != bps:
            raise ValueError(
                f"flac {origin}: frame bits/sample {frame_bps} != STREAMINFO {bps}"
            )
        hdr_end = (bits.pos + 7) // 8
        crc8 = data[hdr_end] if hdr_end < len(data) else None
        if crc8 is None or _crc8(data[frame_start:hdr_end]) != crc8:
            raise ValueError(
                f"flac {origin}: frame header CRC-8 mismatch at byte {frame_start}"
            )
        bits.pos = (hdr_end + 1) * 8
        if ch_code < 8:
            n_ch = ch_code + 1
            if n_ch != channels:
                raise ValueError(
                    f"flac {origin}: frame channels {n_ch} != STREAMINFO {channels}"
                )
            sub = [_read_subframe(bits, block_size, bps) for _ in range(channels)]
        elif ch_code in (8, 9, 10):
            if channels != 2:
                raise ValueError(
                    f"flac {origin}: stereo decorrelation in a {channels}-channel stream"
                )
            if ch_code == 8:  # left-side
                left = _read_subframe(bits, block_size, bps)
                side = _read_subframe(bits, block_size, bps + 1)
                sub = [left, [l - s for l, s in zip(left, side)]]
            elif ch_code == 9:  # right-side
                side = _read_subframe(bits, block_size, bps + 1)
                right = _read_subframe(bits, block_size, bps)
                sub = [[r + s for r, s in zip(right, side)], right]
            else:  # mid-side
                mid = _read_subframe(bits, block_size, bps)
                side = _read_subframe(bits, block_size, bps + 1)
                lefts = []
                rights = []
                for m, s in zip(mid, side):
                    m2 = (m << 1) | (s & 1)
                    lefts.append((m2 + s) >> 1)
                    rights.append((m2 - s) >> 1)
                sub = [lefts, rights]
        else:
            raise ValueError(f"flac {origin}: channel assignment {ch_code} reserved")
        bits.align()
        crc_end = bits.pos // 8
        if crc_end + 2 > len(data):
            raise ValueError(f"flac {origin}: truncated frame footer CRC")
        (crc16,) = struct.unpack(">H", data[crc_end : crc_end + 2])
        if _crc16(data[frame_start:crc_end]) != crc16:
            raise ValueError(
                f"flac {origin}: frame CRC-16 mismatch at byte {frame_start}"
            )
        for c in range(channels):
            chans[c].extend(sub[c])
        pos = crc_end + 2
    n = len(chans[0])
    if total and n != total:
        raise ValueError(
            f"flac {origin}: decoded {n} frames but STREAMINFO declares {total}"
        )
    interleaved = [0] * (n * channels)
    for c in range(channels):
        interleaved[c::channels] = chans[c]
    # residuals are attacker data: a CRC-valid stream can accumulate past
    # the declared width — refuse loudly instead of returning out-of-range
    # samples (or crashing in MD5 byte packing with a bare OverflowError)
    lim = 1 << (bps - 1)
    for i, v in enumerate(interleaved):
        if not -lim <= v < lim:
            raise ValueError(
                f"flac {origin}: decoded sample {v} at frame "
                f"{i // channels} channel {i % channels} outside the "
                f"declared {bps}-bit range — corrupt or crafted stream"
            )
    if md5 != b"\x00" * 16:
        width = (bps + 7) // 8
        h = hashlib.md5()
        h.update(
            b"".join(
                v.to_bytes(width, "little", signed=True) for v in interleaved
            )
        )
        if h.digest() != md5:
            raise ValueError(
                f"flac {origin}: decoded-sample MD5 mismatch — decode bug or "
                "corrupt stream (the format's own end-to-end check)"
            )
    return {
        "sample_rate": sample_rate,
        "channels": channels,
        "bit_depth": bps,
        "n_frames": n,
        "samples": interleaved,
    }


# ------------------------------------------------------------------ writer


def _utf8_coded(v: int) -> bytes:
    """FLAC's UTF-8-style coded number, write side (k-byte form carries
    6(k−1) + (7−k) payload bits, lead byte = k ones, a zero, payload)."""
    if v < 0x80:
        return bytes([v])
    for k in range(2, 8):
        if v < (1 << (6 * (k - 1) + (7 - k))):
            cont = []
            x = v
            for _ in range(k - 1):
                cont.append(0x80 | (x & 0x3F))
                x >>= 6
            lead = ((0xFF << (8 - k)) & 0xFF) | x
            return bytes([lead] + list(reversed(cont)))
    raise ValueError(f"flac: coded number {v} exceeds the 36-bit form")


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, v: int, n: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def align(self) -> None:
        if self.nbits:
            self.put(0, 8 - self.nbits)


def _rice_write(bw: _BitWriter, values: list, param: int) -> None:
    for v in values:
        zz = (abs(v) << 1) - (1 if v < 0 else 0)  # the decoder's zigzag inverse
        q = zz >> param
        bw.put(0, q)
        bw.put(1, 1)
        if param:
            bw.put(zz & ((1 << param) - 1), param)


def _best_rice_param(values: list) -> int:
    best_p, best_cost = 0, None
    for p in range(15):
        cost = 0
        for v in values:
            zz = (abs(v) << 1) - (1 if v < 0 else 0)
            cost += (zz >> p) + 1 + p
            if best_cost is not None and cost > best_cost:
                break
        if best_cost is None or cost < best_cost:
            best_p, best_cost = p, cost
    return best_p


def encode_flac(
    samples: list, channels: int, sample_rate: int, bit_depth: int = 16,
    block_size: int = 4096,
) -> bytes:
    """Spec-valid FLAC from interleaved int samples: CONSTANT subframes
    for flat blocks, FIXED order-2 + Rice residuals otherwise, correct
    CRC-8/16 and the decoded-sample MD5. Deterministic bytes; every
    output round-trips through :func:`parse_flac` bit-exactly."""
    if channels < 1 or channels > 8:
        raise ValueError(f"flac: channels {channels} outside 1..8")
    if not 1 <= sample_rate < (1 << 20):
        raise ValueError(
            f"flac: sample rate {sample_rate} outside the 20-bit STREAMINFO field"
        )
    if not 16 <= block_size <= 65535:
        raise ValueError(
            f"flac: block size {block_size} outside the spec's 16..65535"
        )
    if len(samples) % channels:
        raise ValueError(
            f"flac: {len(samples)} samples not a multiple of {channels} channels"
        )
    if bit_depth not in (8, 16, 24, 32):
        raise ValueError(f"flac: bit depth {bit_depth} unsupported for write")
    lim = 1 << (bit_depth - 1)
    if any(not (-lim <= v < lim) for v in samples):
        raise ValueError(f"flac: sample outside {bit_depth}-bit range")
    n = len(samples) // channels
    if n == 0:
        raise ValueError("flac: cannot encode zero frames")
    width = (bit_depth + 7) // 8
    md5 = hashlib.md5(
        b"".join(v.to_bytes(width, "little", signed=True) for v in samples)
    ).digest()
    si = (sample_rate << 44) | ((channels - 1) << 41) | ((bit_depth - 1) << 36) | n
    streaminfo = (
        struct.pack(">HH", block_size, block_size)
        + (0).to_bytes(3, "big") + (0).to_bytes(3, "big")
        + si.to_bytes(8, "big")
        + md5
    )
    out = bytearray(FLAC_MAGIC)
    out += bytes([0x80]) + len(streaminfo).to_bytes(3, "big") + streaminfo
    frame_no = 0
    for start in range(0, n, block_size):
        bs = min(block_size, n - start)
        bw = _BitWriter()
        bw.put(0b11111111111110, 14)
        bw.put(0, 1)
        bw.put(0, 1)  # fixed-blocksize strategy
        bw.put(7, 4)  # block size: 16-bit at end of header
        bw.put(0, 4)  # sample rate: from STREAMINFO
        bw.put(channels - 1, 4)
        bw.put({8: 1, 16: 4, 24: 6, 32: 7}[bit_depth], 3)
        bw.put(0, 1)
        for b in _utf8_coded(frame_no):
            bw.put(b, 8)
        bw.put(bs - 1, 16)
        bw.align()
        hdr = bytes(bw.out)
        hdr += bytes([_crc8(hdr)])
        body = _BitWriter()
        for c in range(channels):
            block = samples[start * channels + c : (start + bs) * channels : channels]
            body.put(0, 1)
            if all(v == block[0] for v in block):
                body.put(0, 6)  # CONSTANT
                body.put(0, 1)
                body.put(block[0], bit_depth)
            elif bs <= 2:
                body.put(1, 6)  # VERBATIM
                body.put(0, 1)
                for v in block:
                    body.put(v, bit_depth)
            else:
                body.put(10, 6)  # FIXED order 2
                body.put(0, 1)
                body.put(block[0], bit_depth)
                body.put(block[1], bit_depth)
                residual = [
                    block[i] - (2 * block[i - 1] - block[i - 2])
                    for i in range(2, bs)
                ]
                body.put(0, 2)  # 4-bit Rice
                body.put(0, 4)  # partition order 0
                param = min(_best_rice_param(residual), 14)
                body.put(param, 4)
                _rice_write(body, residual, param)
        body.align()
        frame = hdr + bytes(body.out)
        frame += struct.pack(">H", _crc16(frame))
        out += frame
        frame_no += 1
    return bytes(out)


def decode_audio(payload: bytes, origin: str = "<bytes>"):
    """Magic-dispatched audio decode: RIFF/WAVE or FLAC → WavAudio,
    anything else refused naming both. The audio twin of
    ``jpeg.decode_image`` — the feature/segment/normalize/fingerprint
    frames all route through here, so a FLAC copy of a clip flows the
    same pipeline as its WAV copy."""
    from attic.operators.wav import looks_like_wav, parse_wav

    if looks_like_wav(payload):
        return parse_wav(payload, origin=origin)
    if looks_like_flac(payload):
        return flac_to_wav(payload, origin=origin)
    from attic.operators.mp3meta import decode_mp3_audio, looks_like_mp3

    if looks_like_mp3(payload):
        # named refusal: mp3 FRAMING is real surface (mp3meta.mp3_meta),
        # sample decode is not — say which file and why
        decode_mp3_audio(payload, origin=origin)
    from attic.operators.oggmeta import decode_ogg_audio, looks_like_ogg

    if looks_like_ogg(payload):
        decode_ogg_audio(payload, origin=origin)  # named refusal likewise
    raise ValueError(
        f"audio {origin}: payload magic {payload[:4]!r} is neither "
        "RIFF/WAVE nor FLAC — no real codec for this format in-container"
    )


def flac_to_wav(data: bytes, origin: str = "<bytes>"):
    """Bridge into the WAV stack: decode + re-wrap as a WavAudio (PCM),
    so features, segmentation, normalization, and the audio fingerprint
    run on FLAC payloads unchanged."""
    from attic.operators.wav import WavAudio

    d = parse_flac(data, origin=origin)
    if d["bit_depth"] not in (8, 16, 24, 32):
        raise ValueError(
            f"flac {origin}: {d['bit_depth']}-bit samples do not map to a "
            "PCM WAV width"
        )
    depth = d["bit_depth"]
    if depth == 8:
        payload = bytes((v + 128) & 0xFF for v in d["samples"])
    elif depth == 16:
        payload = struct.pack(f"<{len(d['samples'])}h", *d["samples"])
    elif depth == 32:
        payload = struct.pack(f"<{len(d['samples'])}i", *d["samples"])
    else:
        payload = b"".join(
            v.to_bytes(3, "little", signed=True) for v in d["samples"]
        )
    return WavAudio(
        fmt_tag=1,
        channels=d["channels"],
        sample_rate=d["sample_rate"],
        bit_depth=depth,
        n_frames=d["n_frames"],
        data=payload,
    )
