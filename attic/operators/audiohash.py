"""Audio fingerprinting + near-duplicate detection on REAL decoded samples.

The audio twin of ``attic/operators/imagehash.py``: "same clip, different file"
(re-encoded at another rate or bit depth, stereo vs mono copies, gain-
ridden rips) that byte-level exact dedup cannot see. The fingerprint is an
energy-contour difference hash — the time-domain, single-band cousin of
the published band-energy-delta fingerprints (Haitsma–Kalker shape),
deliberately FFT-free so it stays integer-exact and transcendental-free
(the engine's D10 hash-stability rule):

1. normalize the clip (``wav.normalize_audio``): 16-bit PCM → mono →
   ``FP_RATE`` Hz — so rate, channel-count, and bit-depth variants of the
   same audio land on the same sample stream;
2. split the stream into ``HASH_BITS + 1`` equal-share windows (window w
   spans frames [w·n/65, (w+1)·n/65) — duration-proportional, so the
   fingerprint is length-invariant);
3. per-window energy = sum of absolute sample values (integer);
4. bit w = energy(w) < energy(w+1) — rising energy, packed MSB-first.

Energy-delta DIRECTION is invariant under any constant positive gain, so a
volume-scaled copy fingerprints identically up to quantization; silence
hashes to 0 (deterministic ties like aHash's flat image).

Near-dup candidate generation delegates to the ONE banded hamming join
(``operators/hammingband.py``). At 100 TB: fingerprinting is the only
Python stage (mapInPandas beside the decode, payloads never shuffle);
pairing is one banded shuffle + candidate-only verify.

Reference parity: none — beyond-reference multimodal-dedup surface
(SURVEY §2-D), composing the r11 WAV codec with the dedup family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from hbase_observer_es_spark.operators.hammingband import HAMMING_THRESHOLD, _to_i64, hash_near_dups
from attic.operators.wav import WavAudio, normalize_audio, parse_wav

HASH_BITS = 64
FP_RATE = 8000  # fingerprint-domain sample rate (Hz)


def energy_hash(audio: WavAudio, origin: str = "<clip>") -> int:
    """64-bit energy-contour dHash of one clip. The clip is normalized
    first (mono, 16-bit, FP_RATE) so encoding variants agree; callers that
    already normalized pay only an integer passthrough. Clips shorter than
    HASH_BITS+1 frames still hash (empty windows carry energy 0); a
    zero-frame clip hashes to 0."""
    a = normalize_audio(audio, rate=FP_RATE, origin=origin)
    n = a.n_frames
    if n == 0:
        return 0
    flat = a.samples()
    w_n = HASH_BITS + 1
    # exact integer window bounds: window w covers [w*n//w_n, (w+1)*n//w_n)
    energies = []
    for w in range(w_n):
        lo = (w * n) // w_n
        hi = ((w + 1) * n) // w_n
        e = 0
        for v in flat[lo:hi]:
            e += -v if v < 0 else v
        energies.append(e)
    h = 0
    for w in range(HASH_BITS):
        h = (h << 1) | (1 if energies[w] < energies[w + 1] else 0)
    return h


def audio_fingerprints_frame(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, ehash) over a binary audio column (WAV or FLAC by payload
    magic) via mapInPandas — the only
    Python stage of the audio near-dup pipeline. Hashes are emitted as
    SIGNED int64 (raw 64 bits two's-complement, lossless); XOR/bit_count
    downstream are sign-agnostic."""
    import pandas as pd

    from attic.operators.flac import decode_audio

    def extract(batches):
        for pdf in batches:
            ids, eh = [], []
            for key, payload in zip(pdf[id_col], pdf[payload_col]):
                origin = str(key)
                clip = decode_audio(bytes(payload), origin=origin)
                ids.append(key)
                eh.append(_to_i64(energy_hash(clip, origin=origin)))
            yield pd.DataFrame({id_col: ids, "ehash": eh})

    return df.mapInPandas(extract, f"{id_col} long, ehash long")


def audio_near_dups(
    hashes: DataFrame,
    hash_col: str = "ehash",
    id_col: str = "doc_id",
    threshold: int = HAMMING_THRESHOLD,
) -> DataFrame:
    """Near-dup pairs (a_id < b_id, hamming ≤ threshold) from a fingerprint
    frame — delegates to the one banded hamming join (``hammingband.py``)."""
    return hash_near_dups(hashes, hash_col, id_col, threshold, "audiohash_near_dups")
