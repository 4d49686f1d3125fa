"""From-spec LZ4 Frame decoder — stdlib-only, exact.

The Hadoop/Kafka ecosystems ship ``.tar.lz4`` / ``.lz4`` dataset shards
the way WebDataset ships ``.tar.zst``; Python 3.11 has no lz4 codec, so
this module implements the PUBLIC formats the same way
:mod:`.zstd` does RFC 8878: the LZ4 Frame format (magic
``0x184D2204`` — frame descriptor with XXH32 header checksum, block
maximum sizes 64 KB-4 MB, independent AND linked blocks, optional
block/content checksums and declared content size, EndMark), the LZ4
Block format (token sequences: literal runs, 16-bit offsets, overlap-
exact match copies), the legacy frame (magic ``0x184C2102`` — bare
8 MB-bounded blocks to end-of-stream, still emitted by ``lz4 -l``),
and skippable frames (``0x184D2A50``-``5F``, shared with zstd).

Dictionary frames (``DictID`` present and nonzero) refuse BY NAME —
the LZ4 frame dictionary is a raw 64 KB prefix and could be plumbed
like zstd's, but no in-container encoder produces such frames to pin
against (the lz4 CLI's ``-D`` needs no pinning path we can close), so
the honest surface is the refusal. Everything structurally invalid
raises ``ValueError`` naming the byte offset (the repo refusal
contract); output is bounded by an explicit ``max_output`` bomb budget
plus the per-block maximum, enforced before any copy.

Oracle discipline: TWO independent real-world implementations pin the
decoder — pyarrow's bundled lz4 (the frame codec) across input shapes,
and the system ``lz4`` CLI across its flag matrix (block sizes ``-B4``
-``-B7``, LINKED blocks ``-BD``, block checksums ``-BX``, the legacy
format ``-l``, content checksums on by default); ``pyarrow``'s
``lz4_raw`` codec pins the block decoder in isolation. Hand-assembled
frames cover the paths encoders rarely emit, and hypothesis round
trips close the loop. :func:`compress_lz4` is the deterministic
STORE-mode production writer (uncompressed blocks + content checksum),
pinned by both independent DECODERS — the zstd convention, both
directions.

Scale posture: identical to zstd — decompression runs inside the
one-task-per-shard ``mapInPandas`` walk (``attic/sources/tarsrc.py``);
a 100 TB ingest is embarrassingly parallel across shards.

Reference parity: none — builder-brief dataset-pipeline surface
(SURVEY §2-D).
"""

from __future__ import annotations

_MAGIC = 0x184D2204
_LEGACY_MAGIC = 0x184C2102
_SKIPPABLE_LO = 0x184D2A50
_SKIPPABLE_HI = 0x184D2A5F
_LEGACY_BLOCK_MAX = 8 << 20


def _xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 (public algorithm; the LZ4 Frame format's checksum)."""
    P1, P2, P3, P4, P5 = (
        2654435761, 2246822519, 3266489917, 668265263, 374761393,
    )
    M = 0xFFFFFFFF

    def rotl(x, r):
        return ((x << r) | (x >> (32 - r))) & M

    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + P1 + P2) & M
        v2 = (seed + P2) & M
        v3 = seed & M
        v4 = (seed - P1) & M
        while i + 16 <= n:
            vs = [v1, v2, v3, v4]
            for j in range(4):
                lane = int.from_bytes(data[i + 4 * j : i + 4 * j + 4],
                                      "little")
                v = (vs[j] + lane * P2) & M
                vs[j] = (rotl(v, 13) * P1) & M
            v1, v2, v3, v4 = vs
            i += 16
        h = (rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)) & M
    else:
        h = (seed + P5) & M
    h = (h + n) & M
    while i + 4 <= n:
        h = (h + int.from_bytes(data[i : i + 4], "little") * P3) & M
        h = (rotl(h, 17) * P4) & M
        i += 4
    while i < n:
        h = (h + data[i] * P5) & M
        h = (rotl(h, 11) * P1) & M
        i += 1
    h ^= h >> 15
    h = (h * P2) & M
    h ^= h >> 13
    h = (h * P3) & M
    h ^= h >> 16
    return h


def _decode_block(
    block: bytes, out: bytearray, origin: str, at: int,
    window_start: int, max_output: int,
) -> None:
    """One LZ4 Block into ``out``: token sequences per the public block
    format. ``window_start`` bounds how far back matches may reach —
    the block's own start for independent blocks, the frame start for
    linked blocks (matches then reach into earlier blocks' output)."""
    pos, n = 0, len(block)
    if n == 0:
        return
    while True:
        if pos >= n:
            raise ValueError(
                f"lz4 {origin}: block at byte {at} ends inside a sequence"
            )
        token = block[pos]
        pos += 1
        llen = token >> 4
        if llen == 15:
            while True:
                if pos >= n:
                    raise ValueError(
                        f"lz4 {origin}: literal-length extension at byte "
                        f"{at + pos} truncated"
                    )
                b = block[pos]
                pos += 1
                llen += b
                if b != 255:
                    break
        if pos + llen > n:
            raise ValueError(
                f"lz4 {origin}: literal run at byte {at + pos} declares "
                f"{llen} bytes past the block end"
            )
        if len(out) + llen > max_output:
            raise ValueError(
                f"lz4 {origin}: output exceeds the {max_output}-byte "
                f"budget at byte {at + pos}"
            )
        out += block[pos : pos + llen]
        pos += llen
        if pos == n:
            return  # the last sequence carries literals only
        if pos + 2 > n:
            raise ValueError(
                f"lz4 {origin}: match offset at byte {at + pos} truncated"
            )
        offset = block[pos] | (block[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError(
                f"lz4 {origin}: zero match offset at byte {at + pos - 2}"
            )
        mlen = (token & 0x0F) + 4
        if token & 0x0F == 15:
            while True:
                if pos >= n:
                    raise ValueError(
                        f"lz4 {origin}: match-length extension at byte "
                        f"{at + pos} truncated"
                    )
                b = block[pos]
                pos += 1
                mlen += b
                if b != 255:
                    break
        if offset > len(out) - window_start:
            raise ValueError(
                f"lz4 {origin}: match offset {offset} at byte {at + pos} "
                f"reaches before the {len(out) - window_start}-byte "
                "window"
            )
        if len(out) + mlen > max_output:
            raise ValueError(
                f"lz4 {origin}: output exceeds the {max_output}-byte "
                f"budget at byte {at + pos}"
            )
        start = len(out) - offset
        if offset >= mlen:
            out += out[start : start + mlen]
        else:
            pattern = bytes(out[start:])
            out += (pattern * (mlen // offset + 1))[:mlen]


def is_lz4(payload: bytes) -> bool:
    if len(payload) < 4:
        return False
    magic = int.from_bytes(payload[:4], "little")
    return magic in (_MAGIC, _LEGACY_MAGIC)


def decompress_lz4(
    payload: bytes, origin: str = "<bytes>", max_output: int = 1 << 28
) -> bytes:
    """Decode one-or-more concatenated LZ4 frames (modern, legacy, and
    skippable) to their content. ``max_output`` is the bomb budget,
    validated incrementally."""
    pos = 0
    out = bytearray()
    n = len(payload)
    if n < 4:
        raise ValueError(f"lz4 {origin}: {n}-byte payload has no frame header")
    while pos < n:
        if pos + 4 > n:
            raise ValueError(
                f"lz4 {origin}: trailing {n - pos} bytes at byte {pos}"
            )
        magic = int.from_bytes(payload[pos : pos + 4], "little")
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if pos + 8 > n:
                raise ValueError(
                    f"lz4 {origin}: skippable frame header truncated at "
                    f"byte {pos}"
                )
            sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if pos + 8 + sz > n:
                raise ValueError(
                    f"lz4 {origin}: skippable frame at byte {pos} declares "
                    f"{sz} bytes past the payload end"
                )
            pos += 8 + sz
        elif magic == _LEGACY_MAGIC:
            pos = _decode_legacy(payload, pos + 4, out, origin, max_output)
        elif magic == _MAGIC:
            pos = _decode_frame(payload, pos + 4, out, origin, max_output)
        else:
            raise ValueError(
                f"lz4 {origin}: bad frame magic {magic:#010x} at byte {pos}"
            )
    return bytes(out)


def _decode_legacy(payload, pos, out, origin, max_output):
    """Legacy frame (``lz4 -l``): bare 4-byte-size blocks, each
    independently compressed and bounded at 8 MB decompressed, running
    to end-of-stream or the next frame magic."""
    n = len(payload)
    while pos + 4 <= n:
        word = int.from_bytes(payload[pos : pos + 4], "little")
        if word == _MAGIC or word == _LEGACY_MAGIC or (
            _SKIPPABLE_LO <= word <= _SKIPPABLE_HI
        ):
            return pos  # next frame begins
        pos += 4
        if pos + word > n:
            raise ValueError(
                f"lz4 {origin}: legacy block at byte {pos - 4} declares "
                f"{word} bytes past the payload end"
            )
        before = len(out)
        _decode_block(
            payload[pos : pos + word], out, origin, pos, before, max_output
        )
        if len(out) - before > _LEGACY_BLOCK_MAX:
            raise ValueError(
                f"lz4 {origin}: legacy block at byte {pos - 4} regenerates "
                f"{len(out) - before} bytes over the 8 MiB legacy maximum"
            )
        pos += word
    if pos != n:
        raise ValueError(
            f"lz4 {origin}: trailing {n - pos} bytes after the legacy "
            f"frame at byte {pos}"
        )
    return pos


def _decode_frame(payload, pos, out, origin, max_output):
    n = len(payload)
    at = pos
    if pos + 2 > n:
        raise ValueError(f"lz4 {origin}: frame descriptor missing at byte {pos}")
    flg, bd = payload[pos], payload[pos + 1]
    if flg >> 6 != 1:
        raise ValueError(
            f"lz4 {origin}: frame version {flg >> 6} at byte {pos} "
            "unsupported (version 01 only)"
        )
    if flg & 0x02:
        raise ValueError(
            f"lz4 {origin}: reserved FLG bit set at byte {pos}"
        )
    b_indep = bool(flg & 0x20)
    b_chk = bool(flg & 0x10)
    c_size = bool(flg & 0x08)
    c_chk = bool(flg & 0x04)
    dict_id = bool(flg & 0x01)
    if bd & 0x8F:
        raise ValueError(
            f"lz4 {origin}: reserved BD bits set at byte {pos + 1}"
        )
    bcode = (bd >> 4) & 7
    if bcode < 4:
        raise ValueError(
            f"lz4 {origin}: block maximum code {bcode} at byte {pos + 1} "
            "invalid (4..7)"
        )
    block_max = 1 << (8 + 2 * bcode)  # 4->64KB 5->256KB 6->1MB 7->4MB
    desc_end = pos + 2 + (8 if c_size else 0) + (4 if dict_id else 0)
    if desc_end + 1 > n:
        raise ValueError(
            f"lz4 {origin}: frame descriptor at byte {pos} truncated"
        )
    content_size = None
    p = pos + 2
    if c_size:
        content_size = int.from_bytes(payload[p : p + 8], "little")
        p += 8
    if dict_id:
        did = int.from_bytes(payload[p : p + 4], "little")
        if did:
            raise NotImplementedError(
                f"lz4 {origin}: dictionary frame (dictionary id {did}) at "
                "byte {p} not implemented — no in-container encoder "
                "produces LZ4 dictionary frames to pin against "
                "(refused by name)"
            )
        p += 4
    hc = payload[desc_end]
    want_hc = (_xxh32(payload[pos:desc_end]) >> 8) & 0xFF
    if hc != want_hc:
        raise ValueError(
            f"lz4 {origin}: frame descriptor checksum at byte {desc_end} "
            f"is {hc:#04x}, header hashes to {want_hc:#04x}"
        )
    pos = desc_end + 1
    frame_start = len(out)
    while True:
        if pos + 4 > n:
            raise ValueError(
                f"lz4 {origin}: block size word truncated at byte {pos}"
            )
        word = int.from_bytes(payload[pos : pos + 4], "little")
        pos += 4
        if word == 0:
            break  # EndMark
        uncompressed = bool(word & 0x80000000)
        bsize = word & 0x7FFFFFFF
        if bsize > block_max:
            raise ValueError(
                f"lz4 {origin}: block at byte {pos} declares {bsize} "
                f"bytes over the {block_max} block maximum"
            )
        if pos + bsize > n:
            raise ValueError(
                f"lz4 {origin}: block at byte {pos} declares {bsize} "
                "bytes past the payload end"
            )
        data = payload[pos : pos + bsize]
        pos += bsize
        if b_chk:
            if pos + 4 > n:
                raise ValueError(
                    f"lz4 {origin}: block checksum truncated at byte {pos}"
                )
            want = int.from_bytes(payload[pos : pos + 4], "little")
            got = _xxh32(data)
            if want != got:
                raise ValueError(
                    f"lz4 {origin}: block checksum mismatch at byte {pos} "
                    f"(frame says {want:#010x}, block hashes to "
                    f"{got:#010x})"
                )
            pos += 4
        before = len(out)
        if uncompressed:
            if before + bsize > max_output:
                raise ValueError(
                    f"lz4 {origin}: output exceeds the {max_output}-byte "
                    f"budget at byte {pos}"
                )
            out += data
        else:
            _decode_block(
                data, out, origin, pos - bsize,
                frame_start if not b_indep else before, max_output,
            )
            if len(out) - before > block_max:
                raise ValueError(
                    f"lz4 {origin}: block at byte {pos} regenerates "
                    f"{len(out) - before} bytes over the {block_max} "
                    "block maximum"
                )
    frame_content = bytes(out[frame_start:])
    if content_size is not None and len(frame_content) != content_size:
        raise ValueError(
            f"lz4 {origin}: frame declared {content_size} content bytes "
            f"but decoded {len(frame_content)}"
        )
    if c_chk:
        if pos + 4 > n:
            raise ValueError(
                f"lz4 {origin}: content checksum truncated at byte {pos}"
            )
        want = int.from_bytes(payload[pos : pos + 4], "little")
        got = _xxh32(frame_content)
        if want != got:
            raise ValueError(
                f"lz4 {origin}: content checksum mismatch at byte {pos} "
                f"(frame says {want:#010x}, content hashes to {got:#010x})"
            )
        pos += 4
    return pos


def compress_lz4(data: bytes, checksum: bool = True) -> bytes:
    """Deterministic STORE-mode LZ4 frame — uncompressed blocks (64 KB
    maximum), declared content size, and (by default) the XXH32 content
    checksum; spec-valid by construction. The production writer closing
    the round trip from the other side, pinned by pyarrow's lz4 AND the
    system CLI as independent decoders."""
    flg = 0x40 | 0x20 | 0x08 | (0x04 if checksum else 0)
    bd = 0x40  # 64 KB block maximum
    desc = bytes([flg, bd]) + len(data).to_bytes(8, "little")
    out = bytearray(_MAGIC.to_bytes(4, "little"))
    out += desc
    out.append((_xxh32(desc) >> 8) & 0xFF)
    for i in range(0, len(data), 1 << 16):
        chunk = data[i : i + (1 << 16)]
        out += (0x80000000 | len(chunk)).to_bytes(4, "little")
        out += chunk
    out += (0).to_bytes(4, "little")  # EndMark
    if checksum:
        out += _xxh32(data).to_bytes(4, "little")
    return bytes(out)


def lz4_meta(payload: bytes, origin: str = "<bytes>") -> dict:
    """Frame-header facts WITHOUT decoding blocks (census use):
    ``{"content_size": int|None, "checksum": bool, "n_frames": int}``
    — the zstd_meta contract. Legacy frames carry no declared size, so
    their presence makes ``content_size`` None."""
    pos, n = 0, len(payload)
    n_frames = 0
    checksum = False
    total: "int | None" = 0
    if n < 4:
        raise ValueError(f"lz4 {origin}: {n}-byte payload has no frame header")
    while pos < n:
        if pos + 4 > n:
            raise ValueError(f"lz4 {origin}: trailing {n - pos} bytes at {pos}")
        magic = int.from_bytes(payload[pos : pos + 4], "little")
        if _SKIPPABLE_LO <= magic <= _SKIPPABLE_HI:
            if pos + 8 > n:
                raise ValueError(
                    f"lz4 {origin}: skippable frame header truncated at {pos}"
                )
            sz = int.from_bytes(payload[pos + 4 : pos + 8], "little")
            if pos + 8 + sz > n:
                raise ValueError(
                    f"lz4 {origin}: skippable frame at byte {pos} declares "
                    f"{sz} bytes past the payload end"
                )
            pos += 8 + sz
            continue
        if magic == _LEGACY_MAGIC:
            n_frames += 1
            total = None
            pos += 4
            while pos + 4 <= n:
                word = int.from_bytes(payload[pos : pos + 4], "little")
                if word in (_MAGIC, _LEGACY_MAGIC) or (
                    _SKIPPABLE_LO <= word <= _SKIPPABLE_HI
                ):
                    break
                if pos + 4 + word > n:
                    raise ValueError(
                        f"lz4 {origin}: legacy block at byte {pos} declares "
                        f"{word} bytes past the payload end"
                    )
                pos += 4 + word
            continue
        if magic != _MAGIC:
            raise ValueError(
                f"lz4 {origin}: bad frame magic {magic:#010x} at byte {pos}"
            )
        n_frames += 1
        # walk the frame without decoding: reuse the real frame parser
        # against a null budget? No — parse headers and hop block sizes
        if pos + 6 > n:
            raise ValueError(
                f"lz4 {origin}: frame descriptor truncated at byte {pos + 4}"
            )
        flg = payload[pos + 4]
        b_chk = bool(flg & 0x10)
        c_size = bool(flg & 0x08)
        c_chk = bool(flg & 0x04)
        checksum = checksum or c_chk
        p = pos + 6
        if c_size:
            if p + 8 > n:
                raise ValueError(
                    f"lz4 {origin}: content size truncated at byte {p}"
                )
            if total is not None:
                total += int.from_bytes(payload[p : p + 8], "little")
            p += 8
        else:
            total = None
        if flg & 0x01:
            p += 4
        p += 1  # HC
        while True:
            if p + 4 > n:
                raise ValueError(
                    f"lz4 {origin}: block size word truncated at byte {p}"
                )
            word = int.from_bytes(payload[p : p + 4], "little")
            p += 4
            if word == 0:
                break
            p += (word & 0x7FFFFFFF) + (4 if b_chk else 0)
            if p > n:
                raise ValueError(
                    f"lz4 {origin}: blocks at byte {pos} overrun the payload"
                )
        if c_chk:
            p += 4
            if p > n:
                raise ValueError(
                    f"lz4 {origin}: content checksum truncated at byte {p - 4}"
                )
        pos = p
    return {"content_size": total, "checksum": checksum, "n_frames": n_frames}
