"""Media census: one pass profiles a MIXED binary corpus by payload magic.

A scraped corpus lands as one binary column of who-knows-what. Before
any pipeline decision (what to decode, what to route where, what to
drop) someone has to answer "what IS this column?" — per format, per
family, with geometry/duration stats. This operator is that answer in
one mapInPandas pass, composing every real parser in the repo:

* images: PNG/JPEG/GIF/BMP decode for real (geometry from decoded
  pixels — header lies die here, not downstream); WebP geometry from
  the header walk (pixels refused by name elsewhere, but the census
  still reports dims);
* audio: WAV (incl. G.711) and FLAC decode for real (exact duration
  from samples); MP3 and Ogg/Opus/Vorbis from their verified framing
  walks;
* video: AVI (frame count from the movi walk, no decode needed for the
  census), MP4 per-movie facts, animated GIFs report their frame count;
* documents: PDFs report version + page count from the real container
  parse (``attic/operators/pdf_text.py``, r12); DOCX/ODT/EPUB report their
  paragraph/spine counts through the office sniff
  (``attic/operators/office_text.py``, r12); legacy OLE compound files
  (``D0 CF 11 E0``, r14) classify by their marker streams through the
  real CFB walk — ``.doc``/``.xls``/``.ppt`` ALL extract and report
  their character counts (``doc_text``/``xls_text``/``ppt_text``), with
  encrypted and pre-BIFF5 payloads folding to family="error" per the
  census error policy below; anything else is a generic compound file;
  other ZIPs survey as family="archive" with member counts;
* messages (r14): MBOX (``From `` envelope magic) and EML (canonical
  RFC 5322 opening header) survey as family="message" with message and
  attachment counts through the strict mail parse
  (``attic/sources/mailsrc.py``) — checked LAST, after every strong binary
  magic, because mail is text-shaped;
* bare compressed blobs (r15): zstd frames classify with header-walk
  facts (declared content size, frame count, checksum flag — no block
  decode), gzip/bzip2/xz by magic, all family="archive";
* containers/unknown: anything else is classified ``unknown`` with its
  magic preserved.

ERROR POLICY — deliberately different from every other module: a census
must SURVEY a corrupt corpus, not die on its first bad file. This is
the one place parse failures fold into rows instead of raising: family
``error`` with the parser's full loud message in ``detail``. Nothing is
silently dropped — every input row produces exactly one output row, and
the error text is the same text the strict path would have raised.

Scale posture: one Arrow-batched pass, payloads never shuffle; images
pay a real decode (the honest geometry source), audio/video pay only
their framing walks. Aggregate the output (family/format counts, size
and duration distributions) with plain groupBy — the census row is
deliberately flat scalars.

Reference parity: none — builder-brief multimodal surface, SURVEY §2-D.
"""

from __future__ import annotations

CENSUS_SCHEMA = (
    "family string, format string, detail string, n_bytes long,"
    " width long, height long, n_frames long, channels long,"
    " sample_rate long, duration_us long"
)

_EMPTY = {
    "width": 0, "height": 0, "n_frames": 0, "channels": 0,
    "sample_rate": 0, "duration_us": 0,
}


def classify_media(payload: bytes, origin: str = "<bytes>") -> dict:
    """One payload → one flat census row (see module docstring for the
    fold-errors-into-rows policy)."""
    from hbase_observer_es_spark.operators.avi import iter_avi_raw, looks_like_avi
    from hbase_observer_es_spark.operators.bmp import looks_like_bmp
    from attic.operators.flac import looks_like_flac, parse_flac
    from hbase_observer_es_spark.operators.gif import looks_like_gif, parse_gif
    from hbase_observer_es_spark.operators.jpeg import decode_image, looks_like_jpeg
    from attic.operators.mp3meta import looks_like_mp3, mp3_meta
    from attic.operators.heifmeta import heif_meta, looks_like_heif
    from attic.operators.mp4meta import looks_like_mp4, mp4_meta
    from attic.operators.office_text import (
        looks_like_zip,
        office_parts,
        sniff_office,
        zip_member_count,
    )
    from attic.sources.mailsrc import (
        looks_like_eml,
        looks_like_mbox,
        parse_mailbox,
    )
    from attic.operators.doc_text import doc_meta, looks_like_doc
    from attic.operators.oggmeta import looks_like_ogg, ogg_meta
    from attic.operators.pdf_text import looks_like_pdf, pdf_meta
    from attic.operators.rtf_text import looks_like_rtf, rtf_to_text
    from hbase_observer_es_spark.operators.png import PNG_MAGIC
    from hbase_observer_es_spark.operators.tiff import looks_like_tiff, tiff_meta
    from attic.operators.wav import looks_like_wav, parse_wav
    from hbase_observer_es_spark.operators.webpmeta import looks_like_webp, webp_meta

    row = dict(_EMPTY)
    row["n_bytes"] = len(payload)
    row["detail"] = ""
    try:
        if looks_like_gif(payload):
            frames = parse_gif(payload, origin=origin)
            img = frames[0].image
            row.update(
                family="image", format="gif", width=img.width,
                height=img.height, n_frames=len(frames),
            )
        elif payload[: len(PNG_MAGIC)] == PNG_MAGIC or looks_like_jpeg(payload) or looks_like_bmp(payload):
            img = decode_image(payload, origin=origin)
            fmt = (
                "png" if payload[: len(PNG_MAGIC)] == PNG_MAGIC
                else "jpeg" if looks_like_jpeg(payload) else "bmp"
            )
            detail = ""
            if fmt == "jpeg":
                from attic.operators.exif import jpeg_exif

                ex = jpeg_exif(payload, origin=origin)
                if ex is not None:
                    bits = [
                        f"orientation {ex['orientation']}"
                        if ex["orientation"] else "",
                        ex["make"] or "",
                        ex["datetime_original"] or ex["datetime"] or "",
                        "GPS" if ex["gps_lat_micro"] is not None else "",
                    ]
                    detail = "exif: " + ", ".join(b for b in bits if b)
            row.update(
                family="image", format=fmt, width=img.width,
                height=img.height, n_frames=1, detail=detail,
            )
        elif looks_like_tiff(payload):
            m = tiff_meta(payload, origin=origin)
            row.update(
                family="image", format=f"tiff-{m['compression']}",
                width=m["width"], height=m["height"], n_frames=m["n_pages"],
            )
        elif looks_like_webp(payload):
            m = webp_meta(payload, origin=origin)
            row.update(
                family="image", format=f"webp-{m['kind']}", width=m["width"],
                height=m["height"], n_frames=m["n_frames"],
            )
        elif looks_like_wav(payload):
            a = parse_wav(payload, origin=origin)
            row.update(
                family="audio", format="wav", channels=a.channels,
                sample_rate=a.sample_rate, n_frames=a.n_frames,
                duration_us=a.duration_us,
            )
        elif looks_like_flac(payload):
            d = parse_flac(payload, origin=origin)
            row.update(
                family="audio", format="flac", channels=d["channels"],
                sample_rate=d["sample_rate"], n_frames=d["n_frames"],
                duration_us=d["n_frames"] * 1_000_000 // d["sample_rate"],
            )
        elif looks_like_ogg(payload):
            m = ogg_meta(payload, origin=origin)
            row.update(
                family="audio", format=f"ogg-{m['codec']}",
                channels=m["channels"], sample_rate=m["sample_rate"],
                n_frames=m["total_samples"], duration_us=m["duration_us"],
            )
        elif looks_like_mp3(payload):
            m = mp3_meta(payload, origin=origin)
            row.update(
                family="audio", format="mp3", sample_rate=m["sample_rate"],
                channels=1 if m["channel_mode"] == "mono" else 2,
                n_frames=m["total_samples"], duration_us=m["duration_us"],
            )
        elif looks_like_avi(payload):
            it = iter_avi_raw(payload, origin=origin)
            stream = next(it)
            n = sum(1 for _ in it)
            row.update(
                family="video", format=f"avi-{stream.codec}",
                width=stream.width, height=stream.height, n_frames=n,
                duration_us=n * stream.frame_duration_us,
            )
        elif looks_like_heif(payload):
            # MUST sort before the mp4 branch: HEIC/AVIF share the ftyp
            # container and previously error-rowed there on the missing
            # moov (r16)
            m = heif_meta(payload, origin=origin)
            row.update(
                family="image", format=m["format"],
                width=m["width"] or 0, height=m["height"] or 0,
                n_frames=1, channels=m["channels"] or 0,
                detail=(
                    f"brand {m['brand']}, {m['n_items']} items"
                    + (f", rotation {m['rotation']}"
                       if m["rotation"] else "")
                    + " — pixel decode refused by name"
                ),
            )
        elif looks_like_mp4(payload):
            m = mp4_meta(payload, origin=origin)
            vids = [t for t in m["tracks"] if t["handler"] == "vide"]
            row.update(
                family="video", format=f"mp4-{m['brand']}",
                duration_us=m["duration_us"],
                # n_frames stays 0: the box walk does not count samples,
                # and track count is NOT a frame count — it rides detail
                detail=f"{len(m['tracks'])} tracks",
                width=vids[0]["width"] if vids else 0,
                height=vids[0]["height"] if vids else 0,
            )
        elif looks_like_pdf(payload):
            m = pdf_meta(payload, origin=origin)
            row.update(
                family="document", format="pdf", n_frames=m["n_pages"],
                detail=f"pdf-{m['version']}",
            )
        elif looks_like_rtf(payload):
            text = rtf_to_text(payload, origin=origin)
            row.update(
                family="document", format="rtf",
                detail=f"{len(text)} chars",
            )
        elif looks_like_doc(payload):
            m = doc_meta(payload, origin=origin)
            sub = m["subformat"]
            if sub == "msg":
                # Outlook message (r15): family=message like EML/MBOX,
                # one message per payload
                row.update(
                    family="message", format="msg", n_frames=1,
                    detail=(
                        f"{m['n_recipients']} recipients, "
                        f"{m['n_attachments']} attachments, "
                        f"{m['n_chars']} chars"
                    ),
                )
            else:
                if sub in ("doc", "xls", "ppt"):
                    detail = f"{m['n_chars']} chars"
                elif sub == "ooxml-enc":
                    # decrypted-through ECMA-376 wrapper (r16): name the
                    # inner format so the census shows what it holds
                    detail = f"{m['inner']}, {m['n_chars']} chars"
                else:
                    detail = "generic OLE compound file"
                row.update(
                    family="document", format=sub,
                    n_frames=m["n_streams"], detail=detail,
                )
        elif looks_like_zip(payload):
            kind = sniff_office(payload, origin=origin)
            if kind:
                row.update(
                    family="document", format=kind,
                    n_frames=office_parts(payload, origin=origin, kind=kind),
                )
            else:
                row.update(
                    family="archive", format="zip",
                    n_frames=zip_member_count(payload, origin=origin),
                )
        elif looks_like_mbox(payload) or looks_like_eml(payload):
            msgs = parse_mailbox(payload, origin=origin)
            row.update(
                family="message",
                format="mbox" if looks_like_mbox(payload) else "eml",
                n_frames=len(msgs),
                detail=(
                    f"{sum(m['n_attachments'] for m in msgs)} attachments"
                ),
            )
        elif payload[:4] in (b"\x04\x22\x4d\x18", b"\x02\x21\x4c\x18"):
            # LZ4 frames (r16): header-walk facts only, like zstd
            from attic.operators.lz4 import lz4_meta

            lm = lz4_meta(payload, origin=origin)
            cs = lm["content_size"]
            row.update(
                family="archive", format="lz4", n_frames=lm["n_frames"],
                detail=(
                    f"{cs} bytes declared" if cs is not None
                    else "no declared content size"
                ) + (", checksummed" if lm["checksum"] else ""),
            )
        elif payload[:4] == b"\x28\xb5\x2f\xfd":
            # zstd frame (r15): header-walk facts only, no block decode
            from hbase_observer_es_spark.operators.zstd import zstd_meta

            zm = zstd_meta(payload, origin=origin)
            cs = zm["content_size"]
            row.update(
                family="archive", format="zstd", n_frames=zm["n_frames"],
                detail=(
                    f"{cs} bytes declared" if cs is not None
                    else "no declared content size"
                ) + (", checksummed" if zm["checksum"] else "") + (
                    ", dictionary id(s) "
                    + ",".join(str(d) for d in zm["dictionary_ids"])
                    + " required"
                    if zm["dictionary_ids"] else ""
                ),
            )
        elif (
            (payload[:4] == b"PAR1" and payload[-4:] == b"PAR1")
            or payload[:4] == b"ORC\x01"
            or payload[:4] == b"ORC\n"
            or payload[:8] == b"ARROW1\x00\x00"
        ):
            # columnar dataset files (r16): a mixed dump census must
            # recognize parquet/ORC/Arrow-IPC payloads as datasets, not
            # unknowns — facts via pyarrow (the environment-contract
            # library that also backs the Spark ingest of these formats)
            import pyarrow as pa

            try:
                if payload[:4] == b"PAR1":
                    import pyarrow.parquet as pq

                    pf = pq.ParquetFile(pa.BufferReader(payload))
                    fmt, nrows, ncols = (
                        "parquet", pf.metadata.num_rows,
                        pf.metadata.num_columns,
                    )
                    names = pf.schema_arrow.names
                elif payload[:8] == b"ARROW1\x00\x00":
                    f = pa.ipc.open_file(pa.BufferReader(payload))
                    nrows = sum(
                        f.get_batch(i).num_rows
                        for i in range(f.num_record_batches)
                    )
                    fmt, ncols, names = (
                        "arrow-ipc", len(f.schema), f.schema.names,
                    )
                else:
                    import pyarrow.orc as orc_mod

                    o = orc_mod.ORCFile(pa.BufferReader(payload))
                    fmt, nrows, ncols = "orc", o.nrows, len(o.schema)
                    names = o.schema.names
            except (pa.ArrowException, OSError) as e:
                # ArrowIOError subclasses OSError, not ValueError — a
                # corrupt columnar payload must fold into an error row,
                # never kill the partition
                raise ValueError(
                    f"columnar {origin}: corrupt "
                    f"{payload[:4]!r}-magic payload: {e}"
                ) from None
            row.update(
                family="dataset", format=fmt, n_frames=int(nrows),
                detail=f"{ncols} columns: "
                + ", ".join(names[:8])
                + ("…" if len(names) > 8 else ""),
            )
        elif payload[:16] == b"SQLite format 3\x00":
            # dataset-file family (r16): app exports and annotation
            # dumps ship as SQLite; the census reports the table map
            from attic.sources.sqlitesrc import sqlite_meta

            sm = sqlite_meta(payload, origin=origin)
            row.update(
                family="dataset", format="sqlite",
                n_frames=sm["n_tables"],
                detail=", ".join(
                    f"{t['name']}({t['rows']})" for t in sm["tables"]
                ) + (", wal snapshot" if sm["wal"] else ""),
            )
        elif payload[:2] == b"\x1f\x8b" or payload[:3] == b"BZh" or (
            payload[:6] == b"\xfd7zXZ\x00"
        ):
            # bare compressed blobs (r15): a mixed dump carries these
            # beside the tars/zips — classify, don't decode (the census
            # reports what IS there; ingest goes through the sources)
            fmt = (
                "gzip" if payload[:2] == b"\x1f\x8b"
                else "bzip2" if payload[:3] == b"BZh" else "xz"
            )
            row.update(family="archive", format=fmt)
        else:
            row.update(
                family="unknown", format="",
                detail=f"magic {payload[:8]!r}",
            )
    except (ValueError, NotImplementedError) as exc:
        # the census-only fold: the strict parsers' loud message survives
        # verbatim in the row — surveyed, not silenced
        row.update(dict(_EMPTY))
        row["n_bytes"] = len(payload)
        row["family"] = "error"
        row["format"] = ""
        row["detail"] = str(exc)
    return row


def media_census_frame(df, payload_col: str = "payload", id_col: str = "doc_id"):
    """One binary payload row → exactly one flat census row."""
    import pandas as pd

    cols = (
        id_col, "family", "format", "detail", "n_bytes", "width", "height",
        "n_frames", "channels", "sample_rate", "duration_us",
    )

    def extract(batches):
        for pdf in batches:
            rows = {k: [] for k in cols}
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                r = classify_media(bytes(payload), origin=str(key))
                rows[id_col].append(key)
                for k in cols[1:]:
                    rows[k].append(r[k])
            yield pd.DataFrame(rows)

    return df.mapInPandas(extract, f"{id_col} long, {CENSUS_SCHEMA}")
