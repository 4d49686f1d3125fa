"""Tar archive ingest — the OTHER dataset-dump container, one task per
archive.

Research datasets ship as ``.tar`` / ``.tar.gz`` / ``.tgz`` / ``.tar.bz2``
/ ``.tar.xz`` at least as often as ZIP (ImageNet, LAION shards, most
academic releases), and WebDataset itself is tar-shaped — this source is
the ``attic/sources/zipsrc.py`` contract on the tar container: load archives
via the ``binaryFile`` datasource, explode members inside
``mapInPandas`` (Arrow-batched, one task per archive, members never
touch the driver), parsed by the stdlib ``tarfile`` module (the
``attic/sinks/wds.py`` precedent — stdlib container codecs are in-bounds).

Same guarantees as zipsrc, sharing its implementation where the
containers agree (``zipsrc.explode_archive_members`` /
``members_to_documents`` — one landing schema, one decode discipline):

* fail-loud: a corrupt archive names itself and the failing member;
  compression is sniffed by ``tarfile`` (``r:*``), and a truncated or
  corrupt COMPRESSION layer (gzip/bz2 raise EOFError/OSError, xz raises
  lzma.LZMAError — none of them TarError) is caught and re-raised as
  the same named ValueError, never a bare stream exception without the
  archive path. One honest limit: a bit-flip in compressed data whose
  block checksum lies BEYOND the end-of-archive marker can go unseen,
  because tarfile stops consuming the stream at the marker before the
  final checksum is read — corruption detection is as strong as the
  bytes actually consumed, not a whole-file integrity scan;
* bomb-guarded three ways: the zipsrc per-member and per-archive
  decompressed-byte budgets, PLUS a member-HEADER count cap
  (``MAX_MEMBERS``) — a tiny gzip of millions of zero-size headers
  would otherwise pin an executor accumulating TarInfo objects while
  both byte budgets read zero;
* deterministic member order (archive order);
* directories, zero-byte placeholders, and the non-file member kinds
  (symlinks/hardlinks/devices/FIFOs — escape vectors in an ingest, not
  data) are skipped;
* the default path glob covers the real extension zoo
  (``.tar .tar.gz .tgz .tar.bz2 .tbz2 .tar.xz .txz .tar.zst .tzst .tar.lz4 .tlz4``)
  via Hadoop glob alternation, so a directory of ``.tgz`` shards is
  ingested, not silently skipped. ``.tar.zst``/``.tzst`` (increasingly
  the dataset-dump default) decodes for REAL since round 15 through the
  repo's from-spec RFC 8878 decoder (``operators/zstd.py`` — Python
  3.11 ships no zstd codec); skippable frames are skipped per RFC 8878
  §3.1.2 since r16, and dictionary frames decode when the dictionary
  is supplied to ``decompress_zstd`` — a shard requiring an EXTERNAL
  dictionary this ingest path cannot resolve from inside the tar still
  raises a loud ValueError naming the dictionary id (DIVERGENCES.md
  D20, closed).

``read_tar_members`` lands (archive, member, size, content) rows —
byte-compatible with ``read_zip_members`` so mixed dumps union into one
frame; ``tar_texts_to_documents`` is the corpus-shaped convenience with
the same strict-UTF-8 discipline.

Scale posture: one task per archive is the right grain for the common
many-shards layout (WebDataset-style); a single huge tar.gz does not
parallelize (gzip is not splittable) — re-shard upstream, same note as
zipsrc.

Reference parity: none — builder-brief ingest surface (SURVEY §2-D's
source family).
"""

from __future__ import annotations

import io
import lzma
import tarfile

from pyspark.sql import DataFrame, SparkSession

from hbase_observer_es_spark.session import apply_runtime_conf
from attic.sources.zipsrc import (
    MAX_ARCHIVE_BYTES,
    MAX_MEMBER_BYTES,
    ZIP_MEMBER_SCHEMA,
    explode_archive_members,
    members_to_documents,
)

TAR_MEMBER_SCHEMA = ZIP_MEMBER_SCHEMA  # same landing shape, by design

TAR_GLOB = "*.{tar,tar.gz,tgz,tar.bz2,tbz2,tar.xz,txz,tar.zst,tzst,tar.lz4,tlz4}"

# RFC 8878 zstd frame magic. Python 3.11 has no stdlib zstd codec, so
# .tar.zst decodes through the repo's own from-spec frame decoder
# (operators/zstd.py, round 15 — closing DIVERGENCES.md D20's refusal).
# Dictionary-compressed frames still refuse by name inside the decoder
# (skippable frames are skipped per RFC 8878 §3.1.2 since r16); corrupt
# frames raise with byte offsets like every codec.
_ZSTD_MAGIC = b"\x28\xb5\x2f\xfd"

# LZ4 frame magics (modern + legacy) — .tar.lz4 decodes through the
# repo's from-spec frame decoder (attic/operators/lz4.py, r16), pinned by
# pyarrow's bundled lz4 AND the system CLI
_LZ4_MAGICS = (b"\x04\x22\x4d\x18", b"\x02\x21\x4c\x18")

MAX_MEMBERS = 100_000  # header-count bomb guard (bytes budgets see 0)

# what the gzip/bz2/lzma layers raise on truncated/corrupt streams —
# none of them are TarError, so they must be caught explicitly or the
# fail-loud contract leaks bare stream exceptions
_STREAM_ERRORS = (tarfile.TarError, EOFError, OSError, lzma.LZMAError)


def _iter_members(payload: bytes, origin: str, member_glob: str | None = None):
    import fnmatch

    if payload[:4] == _ZSTD_MAGIC:
        # from-spec zstd frame decode (round 15); the whole-archive byte
        # budget applies to the DECOMPRESSED tar exactly as gz/bz2/xz
        # members are budgeted downstream
        from hbase_observer_es_spark.operators.zstd import decompress_zstd

        payload = decompress_zstd(payload, origin, max_output=MAX_ARCHIVE_BYTES)
    elif payload[:4] in _LZ4_MAGICS:
        from attic.operators.lz4 import decompress_lz4

        payload = decompress_lz4(payload, origin, max_output=MAX_ARCHIVE_BYTES)
    try:
        tf = tarfile.open(fileobj=io.BytesIO(payload), mode="r:*")
    except _STREAM_ERRORS as exc:
        raise ValueError(
            f"tar {origin}: not a readable tar archive: {exc}"
        ) from exc
    total = 0
    n_headers = 0
    with tf:
        while True:
            try:
                info = tf.next()
            except _STREAM_ERRORS as exc:
                raise ValueError(
                    f"tar {origin}: corrupt or truncated archive stream "
                    f"after {n_headers} member(s): {exc}"
                ) from exc
            if info is None:
                break
            n_headers += 1
            if n_headers > MAX_MEMBERS:
                raise ValueError(
                    f"tar {origin}: more than {MAX_MEMBERS} member "
                    "headers — refusing (header-count bomb); shard the "
                    "archive or raise MAX_MEMBERS"
                )
            if not info.isfile() or info.size == 0:
                continue  # dirs, links, devices, placeholders: not data
            if member_glob and not fnmatch.fnmatchcase(info.name, member_glob):
                continue
            if info.size > MAX_MEMBER_BYTES:
                raise ValueError(
                    f"tar {origin}: member {info.name!r} declares "
                    f"{info.size} bytes — over the {MAX_MEMBER_BYTES} "
                    "member guard; split the member or raise the guard"
                )
            total += info.size
            if total > MAX_ARCHIVE_BYTES:
                raise ValueError(
                    f"tar {origin}: archive decompresses past the "
                    f"{MAX_ARCHIVE_BYTES}-byte guard — shard the archive "
                    "or raise the guard"
                )
            try:
                f = tf.extractfile(info)
                content = f.read() if f is not None else None
            except Exception as exc:
                raise ValueError(
                    f"tar {origin}: member {info.name!r} failed to "
                    f"extract: {exc}"
                ) from exc
            if content is None:
                continue  # non-regular member tarfile cannot open
            if len(content) != info.size:
                raise ValueError(
                    f"tar {origin}: member {info.name!r} extracted "
                    f"{len(content)} bytes but declared {info.size}"
                )
            yield info.name, content


def read_tar_members(
    spark: SparkSession,
    path: str,
    glob: str = TAR_GLOB,
    member_glob: str | None = None,
) -> DataFrame:
    """(archive, member, size, content) per regular-file member, one
    task per archive; compression auto-sniffed per archive. The landing
    schema is byte-identical to ``read_zip_members`` so a mixed dump of
    tars and zips unions into one frame."""
    apply_runtime_conf(spark)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return explode_archive_members(binary, _iter_members, member_glob)


def tar_texts_to_documents(
    spark: SparkSession,
    path: str,
    glob: str = TAR_GLOB,
    member_glob: str = "*.txt",
) -> DataFrame:
    """Text members → (uri, doc_uid, text) with the rawtext.py id
    convention and the shared zipsrc strict-UTF-8 discipline (mojibake
    is a loud member-naming error, never silently folded in)."""
    members = read_tar_members(spark, path, glob, member_glob)
    return members_to_documents(members, "tar")
