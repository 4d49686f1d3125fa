"""ZIP archive ingest — the dataset-dump container, one task per archive.

Public dataset releases very often ship as ZIP files of many small
members (text shards, JSONL parts, images); reading them member-by-member
from the driver serializes the whole ingest. This source loads each
archive via the ``binaryFile`` datasource and explodes members inside
``mapInPandas`` — Arrow-batched, one task per archive, members never
touch the driver. The container is parsed by the stdlib ``zipfile``
module (the ``tarfile``-in-``attic/sinks/wds.py`` precedent: stdlib container
codecs are in-bounds; only THIRD-PARTY codec libraries are not).

Guarantees:

* fail-loud: a corrupt archive names itself (path) and the failing
  member; a member whose decompressed size disagrees with its header is
  a loud error (``zipfile`` CRC checking stays ON), never silent
  truncation;
* bomb-guarded: per-member and per-archive decompressed-byte budgets are
  LOUD caps (header-declared sizes are attacker data — the gif/png
  geometry-guard discipline applied to archives);
* deterministic member order (archive order, as stored);
* directories and zero-byte placeholder entries are skipped — they are
  structure, not data; encrypted members refuse by name.

``read_zip_members`` lands (archive, member, size, content) rows;
``zip_texts_to_documents`` is the corpus-shaped convenience (utf-8
members → (uri, doc_uid, text), the ``attic/sources/rawtext.py`` id
convention, decode failures loud with member context).

Scale posture: one task per archive is the right grain for the common
many-archives layout; a SINGLE huge archive does not parallelize (ZIP's
central directory would support range-split member fetching the way
``attic/sources/warc_cdx.py`` does for WARC — documented extension point, not
built until a workload needs it).

Reference parity: none — builder-brief ingest surface (SURVEY §2-D's
source family).
"""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hbase_observer_es_spark.session import apply_runtime_conf

ZIP_MEMBER_SCHEMA = "archive string, member string, size long, content binary"

MAX_MEMBER_BYTES = 1 << 30  # 1 GiB per member — loud guard, not a cap
MAX_ARCHIVE_BYTES = 8 << 30  # 8 GiB decompressed per archive


def _iter_members(payload: bytes, origin: str, member_glob: str | None):
    import fnmatch

    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise ValueError(f"zip {origin}: not a readable ZIP archive: {exc}") from exc
    total = 0
    with zf:
        for info in zf.infolist():
            if info.is_dir() or info.file_size == 0:
                continue  # structure / placeholder entries, not data
            # fnmatchcase: stored member names must match identically on
            # every platform (fnmatch is case-insensitive on some OSes)
            if member_glob and not fnmatch.fnmatchcase(info.filename, member_glob):
                continue
            if info.flag_bits & 0x1:
                raise ValueError(
                    f"zip {origin}: member {info.filename!r} is encrypted — "
                    "refusing (no password channel in a corpus ingest)"
                )
            if info.file_size > MAX_MEMBER_BYTES:
                raise ValueError(
                    f"zip {origin}: member {info.filename!r} declares "
                    f"{info.file_size} bytes — over the {MAX_MEMBER_BYTES} "
                    "member guard; split the member or raise the guard"
                )
            total += info.file_size
            if total > MAX_ARCHIVE_BYTES:
                raise ValueError(
                    f"zip {origin}: archive decompresses past the "
                    f"{MAX_ARCHIVE_BYTES}-byte guard — shard the archive "
                    "or raise the guard"
                )
            try:
                content = zf.read(info)  # CRC-verified by zipfile
            except Exception as exc:
                raise ValueError(
                    f"zip {origin}: member {info.filename!r} failed to "
                    f"extract: {exc}"
                ) from exc
            if len(content) != info.file_size:
                raise ValueError(
                    f"zip {origin}: member {info.filename!r} extracted "
                    f"{len(content)} bytes but declared {info.file_size}"
                )
            yield info.filename, content


def explode_archive_members(binary, iter_fn, member_glob):
    """Shared archive→member fan-out: a (path, content) binary frame and
    a per-payload member iterator → the (archive, member, size, content)
    landing frame. zipsrc and tarsrc ride the same implementation so the
    landing schema and the member-row discipline cannot drift apart."""

    def explode(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"archive": [], "member": [], "size": [], "content": []}
            for p, payload in zip(pdf["path"], pdf["content"]):
                for name, content in iter_fn(bytes(payload), p, member_glob):
                    rows["archive"].append(p)
                    rows["member"].append(name)
                    rows["size"].append(len(content))
                    rows["content"].append(content)
            yield pd.DataFrame(rows)

    return binary.mapInPandas(explode, schema=ZIP_MEMBER_SCHEMA)


def members_to_documents(members: DataFrame, container: str) -> DataFrame:
    """Shared text landing: member rows → (uri, doc_uid, text) with the
    rawtext.py id convention. UTF-8 decodes STRICT inside the walk — a
    malformed member dies naming itself (Spark's ``decode`` silently
    substitutes replacement chars under the default config, which is
    exactly the mojibake-folding this refuses)."""

    def decode_strict(batches):
        import pandas as pd

        for pdf in batches:
            rows = {"uri": [], "text": []}
            for p, name, content in zip(
                pdf["archive"], pdf["member"], pdf["content"]
            ):
                try:
                    text = bytes(content).decode("utf-8")
                except UnicodeDecodeError as exc:
                    raise ValueError(
                        f"{container} {p}: member {name!r} is not valid "
                        f"UTF-8 ({exc}) — mojibake must be visible, not "
                        "folded in"
                    ) from exc
                rows["uri"].append(f"{p}!{name}")
                rows["text"].append(text)
            yield pd.DataFrame(rows)

    return members.mapInPandas(decode_strict, "uri string, text string").select(
        "uri",
        F.xxhash64(F.col("uri")).alias("doc_uid"),
        "text",
    )


def read_zip_members(
    spark: SparkSession,
    path: str,
    glob: str = "*.zip",
    member_glob: str | None = None,
) -> DataFrame:
    """(archive, member, size, content) per non-directory member, one
    task per archive. ``member_glob`` filters member NAMES inside the
    walk (a filtered member is never decompressed)."""
    apply_runtime_conf(spark)
    binary = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
        .select("path", "content")
    )
    return explode_archive_members(binary, _iter_members, member_glob)


def zip_texts_to_documents(
    spark: SparkSession,
    path: str,
    glob: str = "*.zip",
    member_glob: str = "*.txt",
) -> DataFrame:
    """Text members → the corpus landing shape (uri, doc_uid, text) with
    the ``rawtext.py`` id convention (uri = archive!member, doc_uid =
    xxhash64(uri)). UTF-8 decodes STRICT inside the member walk — a
    malformed member dies naming itself (Spark's ``decode`` silently
    substitutes replacement chars under the default config, which is
    exactly the mojibake-folding this refuses). Builds ON
    read_zip_members — one loader, one member walk; this stage only
    decodes."""
    members = read_zip_members(spark, path, glob, member_glob)
    return members_to_documents(members, "zip")
