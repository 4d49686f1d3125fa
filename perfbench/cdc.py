"""The ``cdc_sync`` workload: an HBase REST change log mirrored into the keyed
index and Elasticsearch ``_bulk`` bodies by one long-running Structured
Streaming query.

One closed-loop client drops the next log file into the stream's input
directory only after the previous one has been committed and a few of its
keys have been read back from the index. Each micro-batch runs
``parse_change_log`` → ``KeyedParquetSink.merge_batch`` → ``EsBulkSink``
inside ``foreachBatch``, with a checkpoint (the ``s_upsert_sink`` shape).

A pure-Python replay of the same log (last write wins, whole-row deletes)
is the reference every lookup and the final index are checked against.
"""

from __future__ import annotations

import gc
import glob
import os
import time

import numpy as np
import pyarrow.parquet as pq

from hbase_observer_es_spark.sinks.es_bulk import MAX_BULK_ACTIONS, EsBulkSink
from hbase_observer_es_spark.sinks.keyed_parquet import KeyedParquetSink
from hbase_observer_es_spark.sources.hbase_rest import (
    encode_cellset,
    encode_delete,
    parse_change_log,
)

from .spans import Tracer, next_unit_fits

FAMILY = "cf"
QUALIFIERS = ("city", "email", "name", "plan", "score", "status", "tags")
START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z


class ChangeLog:
    """Seeded generator of change-log batches plus the replay they imply.

    Row keys are drawn from a Zipf-skewed key space; a fixed seeded
    permutation spreads the hot keys over the index partitions. Every line
    gets its own millisecond, so the log is totally ordered."""

    def __init__(self, seed: int, cfg: dict):
        self.rng = np.random.default_rng(seed)
        self.pick = np.random.default_rng(seed + 1)
        k = cfg["key_space"]
        weights = 1.0 / np.arange(1, k + 1) ** cfg["zipf_s"]
        self.p = weights / weights.sum()
        self.names = [f"row{i:07d}" for i in self.rng.permutation(k)]
        self.cfg = cfg
        self.ts = START_MS
        self.state: dict[str, dict[str, tuple[str, int]]] = {}

    def _puts(self, keys: list[str], cells_per_put: np.ndarray) -> list[str]:
        """One Put line per key, carrying ``cells_per_put[i]`` distinct
        qualifiers with random values."""
        n = len(keys)
        order = np.argsort(self.rng.random((n, len(QUALIFIERS))), axis=1)
        values = self.rng.integers(0, 1_000_000, (n, len(QUALIFIERS)))
        lines = []
        for i, key in enumerate(keys):
            self.ts += 1
            cells = [
                (QUALIFIERS[j], f"{QUALIFIERS[j]}-{values[i, j]}")
                for j in order[i, : cells_per_put[i]]
            ]
            self.state.setdefault(key, {}).update((q, (v, self.ts)) for q, v in cells)
            lines.append(encode_cellset(key, [(f"{FAMILY}:{q}", v, self.ts) for q, v in cells]))
        return lines

    def _delete(self, key: str) -> str:
        self.ts += 1
        self.state.pop(key, None)
        return encode_delete(key, self.ts)

    def preload(self) -> tuple[list[str], dict]:
        """One Put of ``max_cells`` qualifiers for each of the
        ``preload_keys`` hottest keys: the initial snapshot the index
        starts from."""
        n = self.cfg["preload_keys"]
        lines = self._puts(self.names[:n], np.full(n, self.cfg["max_cells"]))
        return lines, {"puts": n, "deletes": 0}

    def batch(self, n_lines: int) -> tuple[list[str], dict]:
        """``n_lines`` log lines: Puts of 1..max_cells qualifiers, a share of
        whole-row deletes, and a share of truncated (unparseable) lines.
        ``info["lookup"]`` holds a few keys Put in this batch and the cells
        the index must hold for them once the batch is committed."""
        keys = [self.names[r] for r in self.rng.choice(len(self.p), n_lines, p=self.p)]
        kinds = self.rng.random(n_lines)
        n_cells = self.rng.integers(1, self.cfg["max_cells"] + 1, n_lines)
        bad = self.cfg["malformed_share"]
        dele = bad + self.cfg["delete_share"]
        lines: list[str] = []
        put_keys: list[str] = []
        info = {"puts": 0, "deletes": 0}
        for key, u, c in zip(keys, kinds, n_cells):
            if u < bad:
                lines.append('{"Row":[{"key":"')
            elif u < dele:
                lines.append(self._delete(key))
                info["deletes"] += 1
            else:
                lines += self._puts([key], [c])
                info["puts"] += 1
                put_keys.append(key)
        n = min(self.cfg["lookup_keys"], len(put_keys))
        keys = sorted({put_keys[i] for i in self.pick.choice(len(put_keys), n, replace=False)})
        info["lookup"] = (keys, self.expected(keys))
        return lines, info

    def expected(self, keys) -> dict[tuple[str, str], tuple[str, int]]:
        return {
            (k, q): v for k in keys for q, v in self.state.get(k, {}).items()
        }


def _cells(rows) -> dict[tuple[str, str], tuple[str, int]]:
    return {
        (r["row_key"], r["qualifier"]): (r["value"], int(r["ts"].timestamp() * 1000 + 0.5))
        for r in rows
    }


class CdcSync:
    name = "cdc_sync"

    def __init__(self, cfg: dict, work: str, seed: int, tracer: Tracer, session: dict):
        self.spark = None
        self.cfg = cfg
        self.work = work
        self.tracer = tracer
        self.seed = seed
        self.in_dir = os.path.join(work, "cdc_in")
        self.staging = os.path.join(work, "cdc_staging")
        os.makedirs(self.in_dir)
        os.makedirs(self.staging)
        self.sink = KeyedParquetSink(os.path.join(work, "index"), session["sink_partitions"])
        self.bulk = EsBulkSink(os.path.join(work, "bulk"))
        self.query = None
        self.next_file = 0
        self.batch_stats: dict[int, dict] = {}
        self.ops: list[dict] = []
        self.unit_times: list[dict] = []
        self.failures: list[str] = []

    # -- the foreachBatch body ------------------------------------------------

    def _on_batch(self, batch_df, batch_id: int) -> None:
        t = self.tracer
        with t.span("streaming.foreach_batch", batch_id) as root:
            with t.span("hbase_rest.parse", batch_id, root["id"]):
                muts = parse_change_log(batch_df).persist()
                n_mut = muts.count()
            with t.span("keyed_parquet.merge", batch_id, root["id"]):
                self.sink.merge_batch(muts, batch_id)
            with t.span("es_bulk.write", batch_id, root["id"]):
                self.bulk.write_batch(muts, batch_id)
            muts.unpersist()
        self.batch_stats[batch_id] = {"mutations": n_mut}

    def _start_stream(self) -> None:
        stream = self.spark.readStream.option("maxFilesPerTrigger", 1).text(self.in_dir)
        self.query = (
            stream.writeStream.foreachBatch(self._on_batch)
            .option("checkpointLocation", os.path.join(self.work, "cdc_ckpt"))
            .start()
        )

    def _send(self, lines: list[str]) -> None:
        name = f"log-{self.next_file:06d}.ndjson"
        self.next_file += 1
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as f:
            f.write("\n".join(lines) + "\n")
        os.replace(tmp, os.path.join(self.in_dir, name))

    def _commit(self, lines: list[str]) -> float:
        t0 = time.perf_counter()
        self._send(lines)
        self.query.processAllAvailable()
        return time.perf_counter() - t0

    # -- checks ------------------------------------------------------------------

    def _check_bulk(self, batch_id: int, info: dict) -> str | None:
        files = sorted(glob.glob(os.path.join(self.bulk.batch_dir(batch_id), "part-*")))
        updates = deletes = 0
        sizes, n_bytes = [], 0
        for path in files:
            n = 0
            with open(path, "rb") as f:
                for line in f:
                    n_bytes += len(line)
                    if line.startswith(b'{"update"'):
                        updates += 1
                        n += 1
                    elif line.startswith(b'{"delete"'):
                        deletes += 1
                        n += 1
            sizes.append(n)
        self.batch_stats[batch_id].update(
            actions=updates + deletes, bodies=len(files), bytes=n_bytes
        )
        if updates != info["puts"] or deletes != info["deletes"]:
            return (f"batch {batch_id}: bulk has {updates} updates/{deletes} deletes, "
                    f"log has {info['puts']} puts/{info['deletes']} deletes")
        if sizes and max(sizes) > MAX_BULK_ACTIONS:
            return f"batch {batch_id}: a bulk body holds {max(sizes)} actions"
        return None

    def _index_stats(self, batch_id: int) -> None:
        vdir = os.path.join(self.sink.base_dir, f"v{batch_id}")
        parts = glob.glob(os.path.join(vdir, "_p=*"))
        rows = sum(pq.ParquetFile(p).metadata.num_rows
                   for p in glob.glob(os.path.join(vdir, "_p=*", "*.parquet")))
        self.batch_stats[batch_id].update(partitions=len(parts), rows_written=rows)

    def _lookup(self, info: dict, op: int) -> tuple[float, str | None]:
        from pyspark.sql import functions as F

        keys, want = info["lookup"]
        t = self.tracer
        with t.span("keyed_parquet.lookup", op) as sp:
            with t.span("query.build", op, sp["id"]):
                df = self.sink.read(self.spark).filter(F.col("row_key").isin(keys))
            with t.span("query.exec", op, sp["id"]):
                rows = df.collect()
        got = _cells(r.asDict() for r in rows)
        if got != want:
            return sp["duration"], f"lookup {keys}: index {len(got)} cells, replay {len(want)}"
        return sp["duration"], None

    # -- phases --------------------------------------------------------------------

    def prepare(self) -> None:
        """Generate the snapshot and warm-up batches (no Spark needed)."""
        t0 = time.perf_counter()
        self.log = ChangeLog(self.seed, self.cfg)
        self.warm = [self.log.preload()] + [
            self.log.batch(self.cfg["batch_lines"]) for _ in range(self.cfg["warm_batches"])
        ]
        self.phases = {"inputs": time.perf_counter() - t0}

    def setup(self, spark) -> None:
        """Start the stream, then commit the initial snapshot and
        ``warm_batches`` ordinary batches, all before timing starts: the
        first batches after the snapshot still run well above steady state
        while the JVM compiles."""
        self.spark = spark
        self._start_stream()
        errors = []
        for i, (lines, info) in enumerate(self.warm):
            t0 = time.perf_counter()
            self._commit(lines)
            errors.append(self._check_bulk(i, info))
            self.phases["snapshot" if i == 0 else f"warm_batch{i}"] = time.perf_counter() - t0
        errors.append(self._lookup(self.warm[-1][1], -1)[1])
        self.failures += [f"warm-up: {e}" for e in errors if e]

    def run(self, seconds: float) -> None:
        sc = self.spark.sparkContext
        group = str(self.query.runId)
        start = time.perf_counter()
        op = 0
        while next_unit_fits(op, time.perf_counter() - start, seconds, self.tracer):
            traced = self.tracer.begin(op)
            lines, info = self.log.batch(self.cfg["batch_lines"])
            # the replay model is the client's data, not the engine's: keep
            # its garbage-collection passes out of the timed commits
            gc.collect()
            gc.freeze()
            t_unit = time.perf_counter()
            batch_id = self.next_file
            jobs_before = len(sc.statusTracker().getJobIdsForGroup(group)) if traced else 0
            try:
                commit_s = self._commit(lines)
            except Exception as e:  # the stream died: nothing further can commit
                self.failures.append(f"batch {batch_id}: {type(e).__name__}: {e}")
                self.ops.append({"ok": False, "work": len(lines)})
                break
            jobs = len(sc.statusTracker().getJobIdsForGroup(group)) - jobs_before if traced else 0
            lookup_s, lerr = self._lookup(info, batch_id)
            berr = self._check_bulk(batch_id, info)
            self.batch_stats[batch_id]["lines"] = len(lines)
            if traced:
                self._index_stats(batch_id)
                self.batch_stats[batch_id]["jobs"] = jobs
            for e in (berr, lerr):
                if e:
                    self.failures.append(e)
            self.ops.append({
                "ok": not (berr or lerr), "traced": traced, "batch": batch_id,
                "latency": commit_s, "busy": commit_s + lookup_s,
                "work": self.batch_stats[batch_id]["mutations"], "lookup": lookup_s,
            })
            self.unit_times.append({
                "ok": not (berr or lerr), "traced": traced,
                "wall": time.perf_counter() - t_unit,
            })
            op += 1

    def verify(self) -> None:
        """Compare the whole index with the replay."""
        self.query.stop()
        table = self.sink.read(self.spark).toArrow()
        got = _cells(table.to_pylist())
        want = self.log.expected(self.log.state)
        if got != want:
            bad = sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))
            self.failures.append(f"final index differs from replay in {bad} cells")
        self.state_rows = table.num_rows
        self.index_files = len(self.sink.read(self.spark).inputFiles())

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer figures from the traced batches (medians per batch)."""
        from .spans import median

        traced = [o for o in self.ops if o.get("traced") and o["ok"]]
        stats = [self.batch_stats[o["batch"]] for o in traced]
        self_t = self.tracer.self_times()
        progress = {p.batchId: p.durationMs for p in self.query.recentProgress}
        dur = [progress[o["batch"]] for o in traced if o["batch"] in progress]

        def med(key: str) -> float:
            return median([float(s[key]) for s in stats if key in s])

        return {
            "hbase_rest.parse_s": median(self_t.get("hbase_rest.parse", [])),
            "hbase_rest.mutations": med("mutations"),
            # every parsed line yields exactly one bulk action
            "hbase_rest.lines_dropped": median(
                [float(s["lines"] - s["actions"]) for s in stats if "actions" in s]
            ),
            "keyed_parquet.merge_s": median(self_t.get("keyed_parquet.merge", [])),
            "keyed_parquet.lookup_s": median([o["lookup"] for o in traced]),
            "keyed_parquet.partitions_touched": med("partitions"),
            "keyed_parquet.rewrite_ratio": median(
                [s["rows_written"] / s["mutations"] for s in stats if s.get("mutations")]
            ),
            "keyed_parquet.state_rows": float(self.state_rows),
            "keyed_parquet.files": float(self.index_files),
            "es_bulk.write_s": median(self_t.get("es_bulk.write", [])),
            "es_bulk.actions": med("actions"),
            "es_bulk.bodies": med("bodies"),
            "es_bulk.bytes_per_action": median(
                [s["bytes"] / s["actions"] for s in stats if s.get("actions")]
            ),
            "streaming.wal_commit_s": median([d.get("walCommit", 0) / 1000 for d in dur]),
            "streaming.planning_s": median([d.get("queryPlanning", 0) / 1000 for d in dur]),
            "streaming.add_batch_s": median([d.get("addBatch", 0) / 1000 for d in dur]),
            "spark.jobs_per_batch": med("jobs"),
        }
