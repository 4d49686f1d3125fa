"""Ogg container metadata (Opus/Vorbis) from the public specs, stdlib-only.

The other half of scraped audio (``attic/operators/mp3meta.py`` covers MPEG):
Opus and Vorbis ship inside Ogg pages, and — as with MP3 — honest SAMPLE
decode needs a real psychoacoustic codec. The framing, though, is fully
decodable: this module walks every page with the container's own CRC-32
VERIFIED, identifies the codec from the first packet, and derives the
curation facts (exact duration, channels, rates, page count) without
touching compressed audio. Sample decode refuses BY NAME through the
shared audio dispatch.

Implemented from the public layout (RFC 3533 Ogg framing; RFC 7845 Opus
mapping; the Vorbis I spec):

* page walk: ``OggS`` capture, version 0, header-type flags, 64-bit
  granule position, serial, sequence, CRC-32 (poly 0x04C11DB7, init 0,
  unreflected, no final xor — computed with the CRC field zeroed),
  lacing table; a broken capture, CRC mismatch, or sequence gap names
  its byte offset;
* single logical bitstream only: multiplexed (a second BOS serial) and
  chained (a BOS after EOS) files refuse by name — a corpus wants one
  stream per document, and silently reading the first would hide the
  rest;
* codec id from the first packet: ``OpusHead`` (channels, pre-skip,
  input rate; granules run at 48 kHz by definition, duration =
  (last_granule − pre_skip)·10^6 // 48000), ``\\x01vorbis`` (channels,
  rate, duration = last_granule·10^6 // rate), ``\\x7fFLAC``/
  ``\\x80theora`` and unknown first packets refuse by name.

``ogg_meta_frame`` is the Spark fan-out: one payload → one typed row
via mapInPandas (payloads never shuffle).

Reference parity: none — builder-brief multimodal surface, SURVEY §2-D.
"""

from __future__ import annotations

import struct

OGG_MAGIC = b"OggS"


def looks_like_ogg(payload: bytes) -> bool:
    return payload[:4] == OGG_MAGIC


def _crc32_ogg(data: bytes) -> int:
    """Ogg's CRC-32: poly 0x04C11DB7, init 0, unreflected, no final xor
    (pinned against the standard check value in tests)."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if crc & 0x80000000 else (crc << 1) & 0xFFFFFFFF
    return crc


def _parse_page(data: bytes, pos: int, origin: str) -> dict:
    if data[pos : pos + 4] != OGG_MAGIC:
        raise ValueError(
            f"ogg {origin}: lost page capture at byte {pos} "
            f"(bytes {data[pos:pos+4]!r})"
        )
    if pos + 27 > len(data):
        raise ValueError(f"ogg {origin}: truncated page header at byte {pos}")
    version = data[pos + 4]
    if version != 0:
        raise ValueError(f"ogg {origin}: stream structure version {version} unknown")
    htype = data[pos + 5]
    (granule,) = struct.unpack("<q", data[pos + 6 : pos + 14])
    serial, seq, crc = struct.unpack("<IIi", data[pos + 14 : pos + 26])
    nseg = data[pos + 26]
    lace_end = pos + 27 + nseg
    if lace_end > len(data):
        raise ValueError(f"ogg {origin}: lacing table overruns at byte {pos}")
    lacing = data[pos + 27 : lace_end]
    body_len = sum(lacing)
    end = lace_end + body_len
    if end > len(data):
        raise ValueError(
            f"ogg {origin}: page body at byte {pos} overruns the file"
        )
    page = bytearray(data[pos:end])
    page[22:26] = b"\x00\x00\x00\x00"
    if _crc32_ogg(bytes(page)) != crc & 0xFFFFFFFF:
        raise ValueError(f"ogg {origin}: page CRC mismatch at byte {pos}")
    return {
        "continued": bool(htype & 1),
        "bos": bool(htype & 2),
        "eos": bool(htype & 4),
        "granule": granule,
        "serial": serial,
        "seq": seq,
        "body": data[lace_end:end],
        "end": end,
        # a packet COMPLETES on this page iff the last lacing value < 255
        "last_complete": nseg > 0 and lacing[-1] < 255,
    }


def ogg_meta(data: bytes, origin: str = "<bytes>") -> dict:
    """Walk every page; return the curation facts. NO audio is decoded."""
    if not looks_like_ogg(data):
        raise ValueError(f"ogg {origin}: not an Ogg stream (bytes 0-3 {data[:4]!r})")
    pos = 0
    first = _parse_page(data, pos, origin)
    if not first["bos"]:
        raise ValueError(f"ogg {origin}: first page is not beginning-of-stream")
    serial = first["serial"]
    head = first["body"]
    if head.startswith(b"OpusHead"):
        if len(head) < 19:
            raise ValueError(f"ogg {origin}: OpusHead of {len(head)} bytes truncated")
        codec = "opus"
        channels = head[9]
        (pre_skip,) = struct.unpack("<H", head[10:12])
        (in_rate,) = struct.unpack("<I", head[12:16])
        rate = 48000  # Opus granules are 48 kHz by definition
    elif head.startswith(b"\x01vorbis"):
        if len(head) < 16:
            raise ValueError(f"ogg {origin}: vorbis id header truncated")
        codec = "vorbis"
        channels = head[11]
        (rate,) = struct.unpack("<I", head[12:16])
        if rate == 0:
            raise ValueError(f"ogg {origin}: vorbis declares zero sample rate")
        pre_skip = 0
        in_rate = rate
    elif head.startswith(b"\x7fFLAC"):
        raise ValueError(
            f"ogg {origin}: FLAC-in-Ogg unsupported (native FLAC decodes "
            "via attic/operators/flac.py — remux, don't wrap)"
        )
    elif head.startswith(b"\x80theora"):
        raise ValueError(f"ogg {origin}: theora VIDEO stream, not audio")
    else:
        raise ValueError(
            f"ogg {origin}: unknown codec id packet {bytes(head[:8])!r}"
        )
    pos = first["end"]
    n_pages = 1
    last_granule = first["granule"] if first["granule"] >= 0 else None
    prev_seq = first["seq"]
    saw_eos = first["eos"]
    while pos < len(data):
        if saw_eos:
            raise ValueError(
                f"ogg {origin}: data after end-of-stream at byte {pos} — "
                "chained streams unsupported (one stream per document)"
            )
        page = _parse_page(data, pos, origin)
        if page["bos"]:
            raise ValueError(
                f"ogg {origin}: second beginning-of-stream (serial "
                f"{page['serial']}) — multiplexed streams unsupported"
            )
        if page["serial"] != serial:
            raise ValueError(
                f"ogg {origin}: page serial {page['serial']} != stream "
                f"{serial} — multiplexed streams unsupported"
            )
        if page["seq"] != prev_seq + 1:
            raise ValueError(
                f"ogg {origin}: page sequence jumps {prev_seq} -> "
                f"{page['seq']} — pages missing"
            )
        prev_seq = page["seq"]
        if page["granule"] >= 0:
            last_granule = page["granule"]
        saw_eos = page["eos"]
        n_pages += 1
        pos = page["end"]
    if not saw_eos:
        raise ValueError(f"ogg {origin}: stream ends without an end-of-stream page")
    if last_granule is None:
        raise ValueError(f"ogg {origin}: no page carries a granule position")
    samples = max(0, last_granule - pre_skip)
    return {
        "codec": codec,
        "channels": channels,
        "sample_rate": rate,
        "input_sample_rate": in_rate,
        "pre_skip": pre_skip,
        "n_pages": n_pages,
        "total_samples": samples,
        "duration_us": samples * 1_000_000 // rate,
    }


def decode_ogg_audio(payload: bytes, origin: str = "<bytes>"):
    """Stated loudly rather than silently absent: Opus/Vorbis sample
    decode needs a real psychoacoustic codec this container does not
    carry — the page walk in :func:`ogg_meta` is the honest surface."""
    raise NotImplementedError(
        f"ogg {origin}: audio decode not implemented (no codec library "
        "in-container; the page walk in ogg_meta is the real surface)"
    )


OGG_META_SCHEMA = (
    "codec string, channels long, sample_rate long, input_sample_rate long,"
    " pre_skip long, n_pages long, total_samples long, duration_us long"
)


def ogg_meta_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """mapInPandas metadata extraction over a binary Ogg column — one
    typed row per file, payloads die executor-side, zero audio decode."""
    import pandas as pd

    def extract(batches):
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    id_col, "codec", "channels", "sample_rate",
                    "input_sample_rate", "pre_skip", "n_pages",
                    "total_samples", "duration_us",
                )
            }
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                m = ogg_meta(bytes(payload), origin=str(key))
                rows[id_col].append(key)
                for k, v in m.items():
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, f"{id_col} long, {OGG_META_SCHEMA}")
