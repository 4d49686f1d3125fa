"""SRT/WebVTT parsing with hand-derived microsecond timestamps, loud
malformed-cue refusals, and the JVM-side segment-alignment join."""

from __future__ import annotations

import pytest

from attic.operators.subtitles import (
    align_captions,
    captions_frame,
    parse_captions,
    parse_srt,
    parse_vtt,
)

_SRT = """1
00:00:01,500 --> 00:00:03,250
hello there

2
00:00:03,250 --> 00:01:00,000
second cue
with two lines

5
01:00:00,000 --> 01:00:00,001
gap in numbering is fine
"""

_VTT = """WEBVTT - with a header comment

NOTE
this block is skipped

intro-cue-id
00:01.500 --> 00:03.250 align:start position:10%
hello there

01:00:00.000 --> 01:00:00.001
hour field present
"""


def test_srt_exact_timestamps():
    cues = parse_srt(_SRT)
    assert [(c["cue_idx"], c["start_us"], c["end_us"]) for c in cues] == [
        (1, 1_500_000, 3_250_000),
        (2, 3_250_000, 60_000_000),
        (5, 3_600_000_000, 3_600_001_000),
    ]
    assert cues[1]["text"] == "second cue\nwith two lines"


def test_vtt_notes_ids_and_settings():
    cues = parse_vtt(_VTT)
    assert [(c["cue_idx"], c["start_us"], c["end_us"]) for c in cues] == [
        (1, 1_500_000, 3_250_000),
        (2, 3_600_000_000, 3_600_001_000),
    ]
    assert cues[0]["text"] == "hello there"


def test_format_sniff():
    assert parse_captions(_SRT)[0]["cue_idx"] == 1
    assert parse_captions(_VTT)[0]["start_us"] == 1_500_000
    assert parse_captions("﻿" + _VTT)[0]["start_us"] == 1_500_000  # BOM


@pytest.mark.parametrize(
    "payload, msg",
    [
        ("x\n00:00:01,000 --> 00:00:02,000\nhi\n", r"starts with 'x', not a positive"),
        ("1\n00:00:02,000 --> 00:00:01,000\nhi\n", r"cue 1 ends at 1000000us, not after"),
        ("1\n00:00:01,000 -> 00:00:02,000\nhi\n", r"timing line .* is not"),
        ("1\n00:00:61,000 --> 00:00:62,000\nhi\n", r"timestamp '00:00:61,000' malformed"),
        ("1\n00:00:01,000 --> 00:00:02,000\n\n", r"cue 1 has no text"),
        ("", r"no cues in SRT"),
        ("WEBVTT\n", r"no cues in WebVTT"),
    ],
)
def test_malformed_refused(payload, msg):
    with pytest.raises(ValueError, match=msg):
        parse_captions(payload)


def test_vtt_requires_magic():
    with pytest.raises(ValueError, match=r"not a WebVTT payload"):
        parse_vtt("1\n00:00:01.000 --> 00:00:02.000\nhi")


def test_captions_frame_fan_out(spark):
    df = spark.createDataFrame([(1, _SRT), (2, _VTT)], "doc_id long, captions string")
    rows = captions_frame(df).collect()
    got = sorted((r.doc_id, r.cue_idx, r.start_us) for r in rows)
    assert got == [
        (1, 1, 1_500_000), (1, 2, 3_250_000), (1, 5, 3_600_000_000),
        (2, 1, 1_500_000), (2, 2, 3_600_000_000),
    ]


def test_align_captions_overlap_join(spark):
    """Segments of 16000 frames at 8 kHz = 2 s windows. Cue A
    [1.5s, 3.25s) overlaps segments 0 ([0,2s)) and 1 ([2,4s));
    cue B [5s, 5.5s) overlaps only segment 2 ([4,6s)); hand-derived
    overlap lengths."""
    segments = spark.createDataFrame(
        [(1, 0, 8000, 0, 16000), (1, 1, 8000, 16000, 16000),
         (1, 2, 8000, 32000, 16000)],
        "doc_id long, seg_idx long, sample_rate long, start_frame long,"
        " n_frames long",
    )
    cues = spark.createDataFrame(
        [
            (1, 1, 1_500_000, 3_250_000, "A"),
            (1, 2, 5_000_000, 5_500_000, "B"),
            (2, 1, 0, 9_999_999, "other doc"),
        ],
        "doc_id long, cue_idx long, start_us long, end_us long, text string",
    )
    rows = align_captions(segments, cues).collect()
    got = sorted(
        (r.doc_id, r.seg_idx, r.cue_idx, r.overlap_us, r.text) for r in rows
    )
    assert got == [
        (1, 0, 1, 500_000, "A"),    # [1.5, 2.0)
        (1, 1, 1, 1_250_000, "A"),  # [2.0, 3.25)
        (1, 2, 2, 500_000, "B"),    # [5.0, 5.5)
    ]
    with pytest.raises(ValueError, match=r"lacks the per-doc rate column"):
        align_captions(segments.drop("sample_rate"), cues)


def test_alignment_composes_with_real_segments(spark):
    """End-to-end: real WAV payload → audio_segments_frame → cue join."""
    import struct

    from attic.operators.wav import (
        WavAudio, audio_segments_frame, write_wav,
    )

    samples = [1000] * 8000  # one second at 8 kHz
    payload = write_wav(WavAudio(1, 1, 8000, 16, 8000, struct.pack("<8000h", *samples)))
    clips = spark.createDataFrame([(7, payload)], "doc_id long, payload binary")
    segments = audio_segments_frame(clips, window_frames=4000)  # two 0.5s windows
    cues = spark.createDataFrame(
        [(7, 1, 250_000, 750_000, "speech")],
        "doc_id long, cue_idx long, start_us long, end_us long, text string",
    )
    rows = align_captions(segments, cues).collect()
    got = sorted((r.seg_idx, r.overlap_us) for r in rows)
    assert got == [(0, 250_000), (1, 250_000)]


def test_mixed_rate_corpus_aligns_per_document(spark):
    """Two docs, same frame geometry, DIFFERENT rates: the 16 kHz doc's
    segment [8000, 16000) is [0.5s, 1.0s) while the 8 kHz doc's is
    [1.0s, 2.0s) — one cue at [0.6s, 0.7s) hits only the 16 kHz one."""
    segments = spark.createDataFrame(
        [(1, 0, 8000, 8000, 8000), (2, 0, 16000, 8000, 8000)],
        "doc_id long, seg_idx long, sample_rate long, start_frame long,"
        " n_frames long",
    )
    cues = spark.createDataFrame(
        [(1, 1, 600_000, 700_000, "x"), (2, 1, 600_000, 700_000, "x")],
        "doc_id long, cue_idx long, start_us long, end_us long, text string",
    )
    rows = align_captions(segments, cues).collect()
    assert [(r.doc_id, r.overlap_us) for r in rows] == [(2, 100_000)]


def test_noteish_cue_id_is_not_a_comment():
    cues = parse_vtt(
        "WEBVTT\n\nNOTE1-cue-id\n00:00:01.000 --> 00:00:02.000\nhello\n"
    )
    assert len(cues) == 1 and cues[0]["text"] == "hello"


def test_bom_prefixed_srt_parses():
    assert parse_captions("﻿" + _SRT)[0]["start_us"] == 1_500_000


def test_reordered_srt_indexes_refused():
    bad = "5\n00:00:01,000 --> 00:00:02,000\na\n\n2\n00:00:03,000 --> 00:00:04,000\nb\n"
    with pytest.raises(ValueError, match=r"cue index 2 does not increase past 5"):
        parse_srt(bad)
