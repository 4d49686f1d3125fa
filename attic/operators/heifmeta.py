"""HEIF/HEIC/AVIF metadata from the public ISO-BMFF item structure.

Phone cameras default to HEIC (iPhone since 2017) and the web is
adopting AVIF — a crawled corpus carries both, and before r16 their
``ftyp`` container routed into the VIDEO branch of the census (they
share the ISO-BMFF box grammar with MP4) where the missing ``moov``
made every file an error row. This module reads the HEIF still-image
item structure (ISO/IEC 23008-12, all public): ``ftyp`` brand, the
``meta`` fullbox's ``hdlr``/``pitm``/``iinf`` item table, and the
``iprp`` property container — ``ispe`` geometry, ``irot`` rotation and
``pixi`` channel count resolved to the PRIMARY item through the
``ipma`` association table, so the reported geometry is the primary
image's, not a random thumbnail's.

Pixel decode refuses BY NAME: the payloads are HEVC (HEIC) or AV1
(AVIF) intra frames, and those codecs' normative tables and transform
machinery have no in-sandbox independent oracle (the D15 rationale —
same as lossy VP8). The honest surface is the item walk.

Box sizes and counts are attacker data — overruns, truncated fullboxes
and out-of-range property indexes raise ValueError with byte offsets
(``origin`` context everywhere); the census folds those into error
rows as usual.

Reference parity: none — builder-brief multimodal surface (SURVEY
§2-D); shares the box-walk discipline with ``attic/operators/mp4meta.py``.
"""

from __future__ import annotations

import struct

from attic.operators.mp4meta import _find, _walk

# ISO 23008-12 / AVIF brands that mark a STILL-IMAGE item container
HEIF_BRANDS = {
    b"heic", b"heix", b"heim", b"heis", b"hevc", b"hevx",
    b"mif1", b"msf1", b"avif", b"avis",
}
_AVIF_BRANDS = {b"avif", b"avis"}


def looks_like_heif(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[4:8] == b"ftyp"
        and payload[8:12] in HEIF_BRANDS
    )


def _fullbox(data: bytes, b0: int, b1: int, origin: str, label: str):
    """(version, flags, body_start) of a fullbox; loud when truncated."""
    if b1 - b0 < 4:
        raise ValueError(f"heif {origin}: {label} fullbox truncated")
    return data[b0], int.from_bytes(data[b0 + 1 : b0 + 4], "big"), b0 + 4


def heif_meta(data: bytes, origin: str = "<bytes>") -> dict:
    """Facts from the item structure, no sample data touched:
    ``{"brand", "format", "n_items", "item_types", "width", "height",
    "rotation", "channels"}`` — geometry/rotation/channels are the
    PRIMARY item's via ipma, falling back to the largest ``ispe`` when
    the file carries no association table."""
    if not looks_like_heif(data):
        raise ValueError(
            f"heif {origin}: not a HEIF/AVIF stream "
            f"(bytes 4-12 {data[4:12]!r})"
        )
    n = len(data)
    brand = data[8:12].decode("ascii", "replace")
    fmt = "avif" if data[8:12] in _AVIF_BRANDS else "heic"
    meta_span = None
    for cc, b0, b1 in _walk(data, 0, n, origin, top_level=True):
        if cc == b"meta":
            meta_span = (b0, b1)
            break
    if meta_span is None:
        raise ValueError(f"heif {origin}: no meta box in the container")
    _v, _fl, mpos = _fullbox(data, *meta_span, origin, "meta")
    mend = meta_span[1]

    primary = None
    pitm = _find(data, mpos, mend, b"pitm", origin)
    if pitm:
        v, _fl, p = _fullbox(data, *pitm, origin, "pitm")
        need = 4 if v else 2
        if pitm[1] - p < need:
            raise ValueError(f"heif {origin}: pitm truncated")
        primary = int.from_bytes(data[p : p + need], "big")

    n_items = 0
    item_types: dict[int, str] = {}
    iinf = _find(data, mpos, mend, b"iinf", origin)
    if iinf:
        v, _fl, p = _fullbox(data, *iinf, origin, "iinf")
        csize = 4 if v else 2
        if iinf[1] - p < csize:
            raise ValueError(f"heif {origin}: iinf truncated")
        n_items = int.from_bytes(data[p : p + csize], "big")
        for cc, e0, e1 in _walk(data, p + csize, iinf[1], origin):
            if cc != b"infe":
                continue
            ev, _efl, ep = _fullbox(data, e0, e1, origin, "infe")
            if ev < 2:
                continue  # pre-HEIF infe: no item_type field
            idsize = 4 if ev == 3 else 2
            if e1 - ep < idsize + 2 + 4:
                raise ValueError(f"heif {origin}: infe truncated")
            item_id = int.from_bytes(data[ep : ep + idsize], "big")
            item_types[item_id] = data[
                ep + idsize + 2 : ep + idsize + 6
            ].decode("ascii", "replace")

    # property container: ipco lists properties 1-indexed; ipma maps
    # item ids to property indexes
    props: list = []  # (fourcc, body_start, body_end)
    assoc: dict[int, list] = {}
    iprp = _find(data, mpos, mend, b"iprp", origin)
    if iprp:
        ipco = _find(data, iprp[0], iprp[1], b"ipco", origin)
        if ipco:
            props = list(_walk(data, ipco[0], ipco[1], origin))
        ipma = _find(data, iprp[0], iprp[1], b"ipma", origin)
        if ipma:
            v, fl, p = _fullbox(data, *ipma, origin, "ipma")
            if ipma[1] - p < 4:
                raise ValueError(f"heif {origin}: ipma truncated")
            entry_count = int.from_bytes(data[p : p + 4], "big")
            p += 4
            idsize = 4 if v >= 1 else 2
            wide = fl & 1
            for _ in range(entry_count):
                if ipma[1] - p < idsize + 1:
                    raise ValueError(
                        f"heif {origin}: ipma entry truncated at byte {p}"
                    )
                item_id = int.from_bytes(data[p : p + idsize], "big")
                p += idsize
                cnt = data[p]
                p += 1
                idxs = []
                for _a in range(cnt):
                    step = 2 if wide else 1
                    if ipma[1] - p < step:
                        raise ValueError(
                            f"heif {origin}: ipma association truncated "
                            f"at byte {p}"
                        )
                    raw = int.from_bytes(data[p : p + step], "big")
                    p += step
                    idx = raw & (0x7FFF if wide else 0x7F)
                    if idx:
                        if idx > len(props):
                            raise ValueError(
                                f"heif {origin}: ipma names property "
                                f"{idx} of {len(props)}"
                            )
                        idxs.append(idx)
                assoc[item_id] = idxs

    def _prop_facts(indexes):
        w = h = rot = ch = None
        for idx in indexes:
            cc, b0, b1 = props[idx - 1]
            if cc == b"ispe":
                _pv, _pf, pp = _fullbox(data, b0, b1, origin, "ispe")
                if b1 - pp < 8:
                    raise ValueError(f"heif {origin}: ispe truncated")
                w, h = struct.unpack(">II", data[pp : pp + 8])
            elif cc == b"irot":
                if b1 - b0 < 1:
                    raise ValueError(f"heif {origin}: irot truncated")
                rot = (data[b0] & 3) * 90
            elif cc == b"pixi":
                _pv, _pf, pp = _fullbox(data, b0, b1, origin, "pixi")
                if b1 - pp < 1:
                    raise ValueError(f"heif {origin}: pixi truncated")
                ch = data[pp]
        return w, h, rot, ch

    width = height = rotation = channels = None
    if primary is not None and primary in assoc:
        width, height, rotation, channels = _prop_facts(assoc[primary])
    if width is None:
        # no usable association table: the largest ispe is the best
        # honest fallback (thumbnails are smaller than the main image)
        best = 0
        for cc, b0, b1 in props:
            if cc == b"ispe":
                _pv, _pf, pp = _fullbox(data, b0, b1, origin, "ispe")
                if b1 - pp < 8:
                    raise ValueError(f"heif {origin}: ispe truncated")
                w, h = struct.unpack(">II", data[pp : pp + 8])
                if w * h > best:
                    best, width, height = w * h, w, h
    return {
        "brand": brand,
        "format": fmt,
        "n_items": n_items,
        "item_types": sorted(set(item_types.values())),
        "primary_item": primary,
        "width": width,
        "height": height,
        "rotation": rotation,
        "channels": channels,
    }


def decode_heif(payload: bytes, origin: str = "<bytes>"):
    """Pixel decode is NOT implemented — HEIC items are HEVC intra
    frames and AVIF items are AV1 intra frames, both refused by name
    (no in-sandbox independent oracle for their normative tables; the
    D15 discipline). ``heif_meta`` is the supported surface."""
    m = heif_meta(payload, origin)
    raise NotImplementedError(
        f"heif {origin}: {m['format']} pixel decode not implemented — "
        + ("HEVC" if m["format"] == "heic" else "AV1")
        + " intra-frame decoding is refused by name (metadata via "
        "heif_meta)"
    )
