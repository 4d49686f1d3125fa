"""The media census over one mixed batch of every supported format,
plus the fold-errors-into-rows policy."""

from __future__ import annotations

import struct

from attic.operators.media_census import (
    classify_media,
    media_census_frame,
)


def _payloads():
    from hbase_observer_es_spark.operators.avi import write_avi_mjpeg
    from attic.operators.flac import encode_flac
    from hbase_observer_es_spark.operators.jpeg import encode_jpeg
    from hbase_observer_es_spark.operators.png import PngImage, encode_png
    from attic.operators.wav import WavAudio, write_wav
    from tests.test_gif import _simple_gif
    from tests.test_mp3meta import _frame_v1l3_128_44100
    from tests.test_oggmeta import _opus_file

    img = PngImage(6, 4, 8, 0, 1, 6, bytes(range(24)), None)
    wav = write_wav(WavAudio(1, 1, 8000, 16, 4000, struct.pack("<4000h", *([9] * 4000))))
    return {
        "png": encode_png(img),
        "jpeg": encode_jpeg(img, quality=90),
        "gif": _simple_gif([0, 1, 2, 3], 2, 2),
        "wav": wav,
        "flac": encode_flac([5] * 4000, 1, 8000, 16),
        "mp3": _frame_v1l3_128_44100() * 2,
        "ogg": _opus_file(),
        "avi": write_avi_mjpeg([encode_jpeg(img, quality=90)] * 3, 6, 4, 1, 10),
        "unknown": b"\x00\x01\x02\x03 mystery bytes",
        "corrupt": b"fLaC" + b"\x00" * 10,
    }


def test_every_family_classifies():
    got = {name: classify_media(p, origin=name) for name, p in _payloads().items()}
    assert (got["png"]["family"], got["png"]["format"], got["png"]["width"]) == ("image", "png", 6)
    assert (got["jpeg"]["format"], got["jpeg"]["height"]) == ("jpeg", 4)
    assert (got["gif"]["format"], got["gif"]["n_frames"]) == ("gif", 1)
    assert (got["wav"]["family"], got["wav"]["duration_us"]) == ("audio", 500_000)
    assert (got["flac"]["format"], got["flac"]["duration_us"]) == ("flac", 500_000)
    assert (got["mp3"]["format"], got["mp3"]["n_frames"]) == ("mp3", 2304)
    assert (got["ogg"]["format"], got["ogg"]["duration_us"]) == ("ogg-opus", 2_000_000)
    assert (got["avi"]["family"], got["avi"]["format"], got["avi"]["n_frames"],
            got["avi"]["duration_us"]) == ("video", "avi-mjpg", 3, 300_000)
    assert got["unknown"]["family"] == "unknown" and "magic" in got["unknown"]["detail"]
    assert got["corrupt"]["family"] == "error"
    assert "STREAMINFO of 0 bytes" in got["corrupt"]["detail"]  # the strict message, verbatim


def test_mp4_classifies():
    from tests.test_mp4meta import _movie

    r = classify_media(_movie())
    assert (r["family"], r["format"], r["duration_us"], r["width"]) == (
        "video", "mp4-isom", 2_500_000, 640)
    assert r["n_frames"] == 0 and r["detail"] == "2 tracks"  # tracks != frames


def test_webp_classifies():
    from tests.test_webpmeta import _vp8_chunk, _webp

    r = classify_media(_webp(_vp8_chunk(320, 240)))
    assert (r["family"], r["format"], r["width"]) == ("image", "webp-lossy", 320)


def test_census_through_spark_one_row_each(spark):
    payloads = _payloads()
    rows_in = [(i, p) for i, p in enumerate(payloads.values())]
    df = spark.createDataFrame(rows_in, "doc_id long, payload binary")
    out = media_census_frame(df).collect()
    assert len(out) == len(payloads)  # every input row surveyed, none dropped
    families = {r.family for r in out}
    assert families == {"image", "audio", "video", "unknown", "error"}
    agg = (
        media_census_frame(df)
        .groupBy("family")
        .count()
        .collect()
    )
    assert sum(r["count"] for r in agg) == len(payloads)


def test_xlsx_pptx_classify_as_documents():
    """r13: SpreadsheetML/PresentationML archives survey as
    family=document with sheet/slide counts — not family=archive."""
    from tests.test_office_text import _pptx, _slide_xml, _xlsx

    x = classify_media(
        _xlsx([("A", "<row><c><v>1</v></c></row>"), ("B", "")]),
        origin="x",
    )
    assert (x["family"], x["format"], x["n_frames"]) == ("document", "xlsx", 2)
    p = classify_media(_pptx([_slide_xml("hello")]), origin="p")
    assert (p["family"], p["format"], p["n_frames"]) == ("document", "pptx", 1)


def test_census_classifies_bare_compressed_blobs():
    """r15: zstd/gzip/bzip2/xz blobs in a mixed dump classify as
    family=archive (zstd with header-walk facts), corrupt zstd folds to
    the error row with the decoder's loud message."""
    import bz2
    import gzip
    import lzma

    import pyarrow as pa

    from attic.operators.media_census import classify_media

    data = b"payload " * 4000
    z = classify_media(pa.Codec("zstd", compression_level=3).compress(data, asbytes=True), "t")
    assert (z["family"], z["format"], z["n_frames"]) == ("archive", "zstd", 1)
    assert f"{len(data)} bytes declared" in z["detail"]
    for blob, fmt in (
        (gzip.compress(data), "gzip"),
        (bz2.compress(data), "bzip2"),
        (lzma.compress(data), "xz"),
    ):
        r = classify_media(blob, "t")
        assert (r["family"], r["format"]) == ("archive", fmt), fmt
    bad = classify_media(b"\x28\xb5\x2f\xfd" + b"\x00" * 10, "t")
    assert bad["family"] == "error" and "zstd t:" in bad["detail"]
