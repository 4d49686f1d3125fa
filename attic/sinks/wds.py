"""WebDataset-style tar shard publication — the multimodal shipping format.

``attic/sinks/dataset_export.py`` publishes columnar parquet and ``attic/sinks/wet.py``
publishes crawl-shaped WET; multimodal training stacks consume a third
form: POSIX tar shards where each SAMPLE is a group of adjacent files
sharing a basename and differing in extension (``000123.txt``,
``000123.json``, ``000123.jpg``) — the WebDataset convention (public
format: plain USTAR tar + the basename-grouping rule), streamed
sequentially by data loaders at ~disk speed with no random access. This
sink writes it from the stdlib ``tarfile`` ONLY (no webdataset library in
this environment, none needed for the container format).

Determinism — byte-identical re-exports, same discipline as ``wet.py``:

* samples order by key within a shard; members within a sample order by
  the caller's column mapping order;
* every tar header is pinned: mtime 0, uid/gid 0, empty uname/gname,
  mode 0644, USTAR format (the strictest/most portable; names past its
  100-char limit fail loudly rather than silently switching to GNU
  extensions a consumer may not parse);
* shard assignment is ``pmod(xxhash64(key), n_shards)`` — the
  publication-sink convention (dataset_export, wet).

Fail-loud contract: NULL keys, duplicate keys (two samples with one
basename interleave and corrupt BOTH under the grouping rule), keys
containing ``/`` ``.`` or control bytes (a dot inside the basename moves
the extension boundary), all-NULL samples, and non-string/binary member
columns are errors. A NULL member value omits that FILE from the sample
(WebDataset samples may be heterogeneous); absent ≠ empty.

Commit protocol: the shared ``attic/sinks/staging.py`` staged all-or-nothing
commit (one implementation for wet + wds): shards stage under
``_staging/`` with task-attempt-unique temp names, the driver swaps
old→new only after every task succeeded, so re-exports cannot ghost-shard
and a failed export preserves the prior publication. Empty shards publish
as valid empty tars so a consumer mirrors a FIXED file set.

Reference parity: no analogue in the reference tree — beyond-reference
publication surface (SURVEY §2-D), the multimodal third leg of the
publication trio.
"""

from __future__ import annotations

import hashlib
import io
import json
import os
import tarfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from attic.sinks.staging import commit_staged, prepare_staging, stage_blob

MANIFEST = "_MANIFEST.json"
_SHARD = "__wds_shard"
_USTAR_NAME_MAX = 100

_STATS_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.LongType(), False),
        T.StructField("samples", T.LongType(), False),
        T.StructField("files", T.LongType(), False),
        T.StructField("bytes", T.LongType(), False),
        T.StructField("sha256", T.StringType(), False),
    ]
)


def _shard_name(shard: int, n_shards: int) -> str:
    width = max(6, len(str(n_shards - 1)))
    return f"data-{shard:0{width}d}.tar"


def _tar_member(tf: tarfile.TarFile, name: str, payload: bytes) -> None:
    if len(name) > _USTAR_NAME_MAX:
        raise ValueError(
            f"wds: member name {name!r} exceeds the USTAR 100-char limit — "
            "shorten the key rather than silently switching tar formats"
        )
    ti = tarfile.TarInfo(name=name)
    ti.size = len(payload)
    ti.mtime = 0
    ti.uid = 0
    ti.gid = 0
    ti.uname = ""
    ti.gname = ""
    ti.mode = 0o644
    tf.addfile(ti, io.BytesIO(payload))


def _empty_tar() -> bytes:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT):
        pass
    return buf.getvalue()


def write_wds(
    df: DataFrame,
    path: str,
    columns: dict[str, str],
    n_shards: int,
    key_col: str = "doc_id",
) -> dict:
    """Publish ``df`` as ``n_shards`` WebDataset tar shards under ``path``;
    returns the manifest dict (also written as ``_MANIFEST.json``).
    ``columns`` maps DataFrame columns to member file extensions in member
    order, e.g. ``{"text": "txt", "meta": "json", "image": "jpg"}`` —
    string columns encode UTF-8, binary columns ship verbatim."""
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    if not columns:
        raise ValueError("wds: empty column->extension mapping")
    if key_col not in df.columns:
        raise ValueError(f"wds: key column {key_col!r} not in {df.columns}")
    fields = {f.name: f.dataType for f in df.schema.fields}
    exts = list(columns.values())
    if len(set(exts)) != len(exts):
        raise ValueError(f"wds: duplicate extensions in {columns}")
    for c, ext in columns.items():
        if c not in df.columns:
            raise ValueError(f"wds: member column {c!r} not in {df.columns}")
        if not ext or "/" in ext or "." in ext:
            raise ValueError(f"wds: invalid extension {ext!r} for {c!r}")
        if not isinstance(fields[c], (T.StringType, T.BinaryType)):
            raise ValueError(
                f"wds: member column {c!r} is {fields[c]} — only string "
                "(UTF-8 encoded) and binary (verbatim) members are shippable; "
                "cast or serialize explicitly upstream"
            )

    key_s = F.col(key_col).cast("string")
    bad_key = (
        key_s.isNull()
        | key_s.contains("/")
        | key_s.contains(".")
        | F.exists(
            F.transform(
                F.split(key_s, ""),
                lambda ch: (F.ascii(ch) < 32) | (F.ascii(ch) == 127),
            ),
            lambda x: x,
        )
        | (key_s == "")
    )
    key_msg = F.lit(
        f"wds: invalid sample key in {key_col!r} — keys must be non-NULL, "
        "non-empty, free of '/', '.', and control bytes (a dot moves the "
        "WebDataset extension boundary)"
    )
    rows = df.select(
        F.when(bad_key, F.raise_error(key_msg)).otherwise(key_s).alias("__key"),
        *[F.col(c).alias(f"__m_{i}") for i, c in enumerate(columns)],
    ).withColumn(_SHARD, F.pmod(F.xxhash64(F.col("__key")), F.lit(n_shards)))

    staging_dir = prepare_staging(path)

    col_items = list(columns.items())
    str_member = [isinstance(fields[c], T.StringType) for c, _ in col_items]

    def write_shards(pdf):
        import pandas as pd

        shard = int(pdf[_SHARD].iloc[0])
        name = _shard_name(shard, n_shards)
        ordered = pdf.sort_values("__key", kind="mergesort")
        keys = list(ordered["__key"])
        for a, b in zip(keys, keys[1:]):
            if a == b:
                raise ValueError(
                    f"wds: duplicate sample key {a!r} — two samples sharing "
                    "a basename interleave and corrupt both under the "
                    "WebDataset grouping rule; dedup upstream"
                )
        buf = io.BytesIO()
        n_files = 0
        with tarfile.open(
            fileobj=buf, mode="w", format=tarfile.USTAR_FORMAT
        ) as tf:
            for _, row in ordered.iterrows():
                any_member = False
                for i, (c, ext) in enumerate(col_items):
                    v = row[f"__m_{i}"]
                    if v is None or (isinstance(v, float) and pd.isna(v)):
                        continue
                    payload = (
                        v.encode("utf-8") if str_member[i] else bytes(v)
                    )
                    _tar_member(tf, f"{row['__key']}.{ext}", payload)
                    any_member = True
                    n_files += 1
                if not any_member:
                    raise ValueError(
                        f"wds: sample {row['__key']!r} has every member "
                        "NULL — an empty sample is a data bug, not a file"
                    )
        blob = buf.getvalue()
        stage_blob(staging_dir, name, blob)
        return pd.DataFrame(
            [
                {
                    "shard": shard,
                    "samples": len(keys),
                    "files": n_files,
                    "bytes": len(blob),
                    "sha256": hashlib.sha256(blob).hexdigest(),
                }
            ]
        )

    stats = (
        rows.repartition(n_shards, F.col(_SHARD))
        .groupBy(_SHARD)
        .applyInPandas(write_shards, schema=_STATS_SCHEMA)
        .collect()  # bounded: ONE row per shard
    )
    shards = {
        int(r["shard"]): {
            "file": _shard_name(int(r["shard"]), n_shards),
            "samples": int(r["samples"]),
            "files": int(r["files"]),
            "bytes": int(r["bytes"]),
            "sha256": r["sha256"],
        }
        for r in stats
    }
    empty = _empty_tar()
    for s in range(n_shards):
        if s not in shards:
            name = _shard_name(s, n_shards)
            with open(os.path.join(staging_dir, name), "wb") as f:
                f.write(empty)
            shards[s] = {
                "file": name,
                "samples": 0,
                "files": 0,
                "bytes": len(empty),
                "sha256": hashlib.sha256(empty).hexdigest(),
            }
    manifest = {
        "format": "wds",
        "n_shards": n_shards,
        "members": dict(columns),
        "total_samples": sum(s["samples"] for s in shards.values()),
        "shards": {str(k): shards[k] for k in sorted(shards)},
    }
    commit_staged(
        path,
        staging_dir,
        [shards[s]["file"] for s in sorted(shards)],
        ".tar",
        MANIFEST,
        manifest,
    )
    return manifest


_READ_SCHEMA = T.StructType(
    [
        T.StructField("shard_file", T.StringType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("ext", T.StringType(), False),
        T.StructField("content", T.BinaryType(), False),
    ]
)


def read_wds(spark: SparkSession, path: str) -> DataFrame:
    """Re-ingest published shards as long-form member rows ``(shard_file,
    key, ext, content)`` — one Arrow-batched task per shard (binaryFile),
    the extension split at the LAST dot per the grouping rule. Fail-loud on
    anything that is not a clean regular-file tar member."""

    def parse(batches):
        import pandas as pd

        for pdf in batches:
            out = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                fname = os.path.basename(fpath)
                try:
                    tf = tarfile.open(
                        fileobj=io.BytesIO(bytes(content)), mode="r:"
                    )
                except tarfile.TarError as e:
                    raise ValueError(f"wds: {fname}: unreadable tar: {e}")
                with tf:
                    for m in tf:
                        if not m.isreg():
                            raise ValueError(
                                f"wds: {fname}: non-regular member {m.name!r}"
                            )
                        base, dot, ext = m.name.rpartition(".")
                        if not dot or not base or not ext:
                            raise ValueError(
                                f"wds: {fname}: member {m.name!r} has no "
                                "extension — not a WebDataset sample file"
                            )
                        out.append(
                            (fname, base, ext, tf.extractfile(m).read())
                        )
            yield pd.DataFrame(
                out, columns=["shard_file", "key", "ext", "content"]
            )

    return (
        spark.read.format("binaryFile")
        .load(os.path.join(path, "*.tar"))
        .select("path", "content")
        .mapInPandas(parse, schema=_READ_SCHEMA)
    )


def verify_wds(path: str) -> dict:
    """Consumer-side byte audit: every manifest shard exists with the
    declared sha256/size, parses as tar, carries the declared sample and
    file counts, and groups contiguously by basename. Returns the manifest
    on success; raises on the first violation."""
    with open(os.path.join(path, MANIFEST)) as f:
        manifest = json.load(f)
    if manifest.get("format") != "wds":
        raise ValueError(f"wds verify: unexpected format {manifest.get('format')!r}")
    declared = {e["file"] for e in manifest["shards"].values()}
    on_disk = {f for f in os.listdir(path) if f.endswith(".tar")}
    stray = sorted(on_disk - declared)
    if stray:
        # read_wds globs *.tar, so an undeclared shard WOULD be consumed —
        # the audited file set must equal the readable one (wet/export rule)
        raise ValueError(f"wds verify: undeclared shard files on disk: {stray}")
    for sid, entry in sorted(manifest["shards"].items(), key=lambda kv: int(kv[0])):
        fp = os.path.join(path, entry["file"])
        if not os.path.isfile(fp):
            raise ValueError(f"wds verify: missing shard file {entry['file']}")
        blob = open(fp, "rb").read()
        if len(blob) != entry["bytes"]:
            raise ValueError(
                f"wds verify: {entry['file']}: {len(blob)} bytes, manifest "
                f"says {entry['bytes']}"
            )
        digest = hashlib.sha256(blob).hexdigest()
        if digest != entry["sha256"]:
            raise ValueError(
                f"wds verify: {entry['file']}: sha256 {digest} != manifest "
                f"{entry['sha256']}"
            )
        seen: set[str] = set()
        last_base: str | None = None
        n_files = 0
        with tarfile.open(fileobj=io.BytesIO(blob), mode="r:") as tf:
            for m in tf:
                base = m.name.rpartition(".")[0]
                if base != last_base:
                    if base in seen:
                        raise ValueError(
                            f"wds verify: {entry['file']}: sample {base!r} "
                            "is non-contiguous — grouping rule violated"
                        )
                    seen.add(base)
                    last_base = base
                n_files += 1
        if len(seen) != entry["samples"] or n_files != entry["files"]:
            raise ValueError(
                f"wds verify: {entry['file']}: counted {len(seen)} "
                f"samples / {n_files} files, manifest says "
                f"{entry['samples']} / {entry['files']}"
            )
    return manifest
