"""Exif metadata from JPEG APP1 — the curation facts image corpora need.

A crawled or uploaded photo corpus filters and groups on capture facts:
orientation (rotate-before-hash, or the same photo uploaded portrait
and landscape dedups apart), capture timestamp (temporal splits),
camera make/model (device stratification), GPS (geo-filtering and PII
scrubbing — location EXIF is exactly what a privacy pass must find).
This module parses the PUBLIC Exif layout: the JPEG APP1 segment's
``Exif\\0\\0`` header wraps a little TIFF stream, so the existing IFD
reader (``operators/tiff.py``) does the walking — IFD0 for
orientation/make/model/datetime, the Exif sub-IFD (tag 34665) for
DateTimeOriginal and pixel dimensions, the GPS sub-IFD (tag 34853) for
latitude/longitude.

Determinism: GPS degrees/minutes/seconds arrive as exact rationals and
are reduced to signed integer MICRO-degrees with exact integer
arithmetic (floor division after scaling — no float ever touches a
coordinate), so every host produces identical values (the D10/D12
rule).

Absence is not an error: a JPEG without APP1 Exif returns ``None``;
inside a present segment, missing tags are ``None`` fields. STRUCTURAL
corruption (an APP1 claiming Exif whose TIFF stream is broken) raises
the TIFF reader's ValueError with offsets — the census folds it into
error rows as usual.

Reference parity: none — builder-brief multimodal surface (SURVEY
§2-D).
"""

from __future__ import annotations

import struct

from hbase_observer_es_spark.operators.tiff import _read_entries

_EXIF_IFD = 34665
_GPS_IFD = 34853


def _ascii(entries: dict, tag: int) -> "str | None":
    """Tag value as text, or None — tolerant of MIS-TYPED tags (a
    rational where ASCII belongs must yield None, never a TypeError
    that escapes the census's error fold)."""
    v = entries.get(tag)
    if not v or not all(isinstance(b, int) and 0 <= b <= 255 for b in v):
        return None
    return bytes(b for b in v if b).decode("ascii", "replace").strip() or None


def _int(entries: dict, tag: int) -> "int | None":
    v = entries.get(tag)
    if not v or not isinstance(v[0], int):
        return None
    return v[0]


def _micro_degrees(dms, ref: "str | None", origin: str) -> "int | None":
    """Exact rational (deg, min, sec) → signed integer micro-degrees.
    ``dms`` is the GPS tag's rational list [(n,d) x3]; S/W refs negate."""
    if (
        not dms
        or len(dms) != 3
        or not all(isinstance(p, tuple) and len(p) == 2 for p in dms)
    ):
        return None  # absent or mis-typed (non-RATIONAL) tag
    total_num = 0
    total_den = 1
    for (num, den), scale in zip(dms, (3600, 60, 1)):
        if den == 0:
            raise ValueError(
                f"exif {origin}: GPS rational with zero denominator"
            )
        # accumulate in exact arc-seconds: num/den * scale
        total_num = total_num * den + num * scale * total_den
        total_den *= den
    # arc-seconds -> micro-degrees: * 1e6 / 3600, exact then floor
    micro = total_num * 1_000_000 // (total_den * 3600)
    if ref and ref.upper() in ("S", "W"):
        micro = -micro
    return micro


def jpeg_exif(data: bytes, origin: str = "<bytes>") -> "dict | None":
    """Parse the first APP1 Exif segment of a JPEG stream; ``None`` when
    the stream carries no Exif. Returned facts: ``orientation`` (1-8,
    Exif tag 274), ``make``/``model``, ``datetime`` (IFD0 306) and
    ``datetime_original`` (Exif 36867) as the raw ``YYYY:MM:DD HH:MM:SS``
    strings, ``pixel_width``/``pixel_height`` (Exif 40962/40963), and
    ``gps_lat_micro``/``gps_lon_micro`` (signed integer micro-degrees,
    exact)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError(
            f"exif {origin}: not a JPEG stream (bytes 0-1 {data[:2]!r})"
        )
    pos = 2
    n = len(data)
    tiff_data = None
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            break
        # legal 0xFF fill bytes before a marker (T.81 B.1.1.2) — the
        # pixel decoder skips them, so the Exif walk must too
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > n:
            break
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        if marker in (0xDA, 0xD9):  # SOS / EOI: no more headers
            break
        (seglen,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        if seglen < 2 or pos + 2 + seglen > n:
            raise ValueError(
                f"exif {origin}: segment 0xFF{marker:02X} length {seglen} "
                "overruns the stream"
            )
        if marker == 0xE1 and data[pos + 4 : pos + 10] == b"Exif\x00\x00":
            tiff_data = data[pos + 10 : pos + 2 + seglen]
            break
        pos += 2 + seglen
    if tiff_data is None:
        return None
    if tiff_data[:4] not in (b"II*\x00", b"MM\x00*") or len(tiff_data) < 8:
        raise ValueError(
            f"exif {origin}: APP1 Exif payload is not a TIFF stream "
            f"(bytes 0-3 {tiff_data[:4]!r})"
        )
    endian = "<" if tiff_data[:2] == b"II" else ">"
    (ifd_at,) = struct.unpack(endian + "I", tiff_data[4:8])
    ifd0, _next = _read_entries(tiff_data, ifd_at, endian, origin)
    out = {
        "orientation": _int(ifd0, 274),
        "make": _ascii(ifd0, 271),
        "model": _ascii(ifd0, 272),
        "datetime": _ascii(ifd0, 306),
        "datetime_original": None,
        "pixel_width": None,
        "pixel_height": None,
        "gps_lat_micro": None,
        "gps_lon_micro": None,
    }
    exif_at = _int(ifd0, _EXIF_IFD)
    if exif_at is not None:
        sub, _n = _read_entries(tiff_data, exif_at, endian, origin)
        out["datetime_original"] = _ascii(sub, 36867)
        out["pixel_width"] = _int(sub, 40962)
        out["pixel_height"] = _int(sub, 40963)
    gps_at = _int(ifd0, _GPS_IFD)
    if gps_at is not None:
        gps, _n = _read_entries(tiff_data, gps_at, endian, origin)
        out["gps_lat_micro"] = _micro_degrees(
            gps.get(2), _ascii(gps, 1), origin
        )
        out["gps_lon_micro"] = _micro_degrees(
            gps.get(4), _ascii(gps, 3), origin
        )
    return out
