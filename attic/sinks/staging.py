"""The ONE staged all-or-nothing publication commit protocol.

``attic/sinks/wet.py`` and ``attic/sinks/wds.py`` publish shard files with identical
transactional needs; this module is that protocol, extracted so a fix to
the commit window applies once (the two sinks previously carried verbatim
copies — the tripwire a reviewer flagged):

* **Stage**: shards write under ``<path>/_staging/`` — the underscore
  prefix hides the directory from every Spark/Hadoop reader, so a partial
  export is never readable as data.
* **Task side** (:func:`stage_blob`): each task writes to a TASK-ATTEMPT-
  unique temp name first — under speculative execution two attempts of the
  same shard may run concurrently, and a shared temp path would interleave
  their writes; ``os.replace`` is atomic, so whichever attempt commits last
  installs a COMPLETE (and, by the sinks' determinism contracts,
  byte-identical) staged shard.
* **Commit** (:func:`commit_staged`): only after EVERY task succeeded does
  the driver sweep the prior publication (matching shard files + manifest)
  and move the staged set into place, then write the manifest and drop the
  staging dir. A failed or rejected export therefore preserves the prior
  publication untouched, and re-exports cannot ghost-shard (stale files
  from a wider prior layout are swept by suffix).

Local-filesystem contract (same as the sinks that use it): ``os.replace``
semantics require a real POSIX directory; an object-store deployment swaps
this module for a commit service — one place to swap now.
"""

from __future__ import annotations

import json
import os
import shutil

STAGING = "_staging"


def prepare_staging(path: str) -> str:
    """Create (or reset, if a failed prior export left one) the staging
    directory under ``path``; returns its absolute path."""
    staging_dir = os.path.join(path, STAGING)
    if os.path.isdir(staging_dir):
        shutil.rmtree(staging_dir)
    os.makedirs(staging_dir)
    return staging_dir


def stage_blob(staging_dir: str, name: str, blob: bytes) -> None:
    """Task-side write of one finished shard blob (see module docstring for
    the attempt-unique temp discipline)."""
    from pyspark import TaskContext

    staged = os.path.join(staging_dir, name)
    ctx = TaskContext.get()
    attempt = ctx.taskAttemptId() if ctx is not None else 0
    tmp = f"{staged}.attempt-{attempt}"
    with open(tmp, "wb") as f:
        f.write(blob)
    os.replace(tmp, staged)


def commit_staged(
    path: str,
    staging_dir: str,
    shard_files: list[str],
    suffix: str,
    manifest_name: str,
    manifest: dict,
) -> None:
    """Driver-side commit: sweep the prior publication (files ending in
    ``suffix`` plus the manifest), install every staged shard, write the
    manifest, drop staging. Call ONLY after every shard is staged."""
    for f in os.listdir(path):
        if f.endswith(suffix) or f == manifest_name:
            os.remove(os.path.join(path, f))
    for name in shard_files:
        os.replace(os.path.join(staging_dir, name), os.path.join(path, name))
    with open(os.path.join(path, manifest_name), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(staging_dir)
