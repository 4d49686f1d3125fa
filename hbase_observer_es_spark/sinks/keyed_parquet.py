"""Keyed materialized table with upsert/tombstone merge — the engine's analogue
of the reference's Elasticsearch index.

The reference materializes HBase rows as ES documents keyed by rowkey, applying
partial upserts and deletes per mutation (HbaseDataSyncEsObserver.java:85-89,
:101-104 in /root/reference). Here the same contract is a keyed parquet table
maintained by micro-batch merges, laid out merge-on-read (the LSM-tree shape,
O'Neil et al. 1996):

* state is hash-partitioned on the row key, and each key partition is a list of
  **runs**, oldest first. The first run is a tombstone-free **base**; every later
  run is one batch resolved by last-write-wins, with each key's latest delete
  kept as an ``op='delete'`` row so it can still hide older cells. Each row
  carries ``seq``, the batch that wrote it, and a delete hides only cells of
  its own or an earlier batch: deletes apply in arrival order, so an old
  upsert arriving after a delete re-creates the doc (the reference's
  semantics, HbaseDataSyncEsObserver.java:101-104);
* a batch writes one run per key partition it holds rows for — its write cost
  scales with the batch, not with the state. Under uniform or Zipf keys a batch
  still lands in every partition; what it no longer does is rewrite them;
* **fold**: in the same plan, a partition's runs plus its batch rows are
  resolved into a new base (tombstones dropped) when the partition has no runs,
  when it has ``K`` runs, or when it has more than one and
  ``(batch_id + partition) % K == 0``. The offset staggers the folds over the
  batches, so a commit folds about ``n_partitions / K`` partitions instead of
  all of them every ``K``-th batch. The choice depends only on ``batch_id`` and
  the manifest, so a replayed batch folds the same partitions;
* a merge is one plan: the batch rows plus the runs of the folded partitions,
  shuffled into one task per key partition, resolved by
  ``operators.cdc.resolve_cells`` (two windows, no join) and written as one
  file per run. ``read()`` is the same resolver over every run;
* each batch is written to a fresh ``v{batch_id}`` directory (one
  ``_p={partition}`` run each) and published by the manifest rename, so a
  crashed batch never corrupts the readable state.

Restart durability: the partition→runs map is persisted to ``_MANIFEST.json``
in the table directory after every merge (atomic write-then-rename, the same
recipe Structured Streaming's own commit log uses), and loaded on
construction. A driver restart therefore resumes from the last COMPLETED
batch: Structured Streaming replays any in-flight batch from its checkpoint,
and the manifest carries a ``last_applied`` batch-id watermark that splits the
replay into two safe cases — a replayed COMMITTED batch (batch_id <=
last_applied) is a pure no-op; a replayed UNCOMMITTED batch (crash before the
manifest rename) re-merges from the runs of the last committed manifest and
overwrites only its own never-referenced v{batch_id} directory. This is the
durable analogue of the reference's retry-requeue
(ElasticsearchBulkOperator.java:114-137), made exactly-once across restarts
rather than at-least-once within a process.

Bounded disk: after the manifest commit, the runs it no longer references are
deleted, and so is any ``v{b}`` directory left without runs; construction
sweeps the same way, for what a crash between commit and delete left behind.
A frame returned by ``read()`` therefore stays valid until the next
``merge_batch``: that merge may delete the runs it scans.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.cdc import resolve_cells

# ``seq`` is the batch that wrote the row: the arrival order tombstones follow
RUN_SCHEMA = (
    "row_key string, qualifier string, value string, ts timestamp, op string, seq long"
)

# Most runs a key partition holds before it is folded. A read then lists at
# most n_partitions × K run paths. At the default 8 partitions that is 32,
# Spark's parallel-listing threshold
# (spark.sql.sources.parallelPartitionDiscovery.threshold); with more
# partitions a read can pass it, and then lists its paths with an extra
# distributed job.
K = 4


class KeyedParquetSink:
    """Micro-batch merge sink over a hash-partitioned, merge-on-read keyed
    parquet table.

    Use ``sink.merge_batch`` directly as a Structured Streaming ``foreachBatch``
    callable; read the current state with ``sink.read(spark)``. At 100 TB pick
    ``n_partitions`` so one partition's state fits an executor comfortably;
    the stable Murmur3 partitioner keeps every key's history in one partition.
    """

    MANIFEST = "_MANIFEST.json"

    def __init__(self, base_dir: str, n_partitions: int = 8):
        self.base_dir = base_dir
        self.n_partitions = n_partitions
        # a row's key partition: the task Spark's hash partitioner (Murmur3,
        # seed 42) gives row_key among n_partitions, so that
        # ``repartition(n_partitions, "row_key")`` puts each in a task of its
        # own. Only the file count per run depends on the two agreeing.
        self._pexpr = f"pmod(hash(row_key), {n_partitions})"
        # key partition -> its run directories relative to base_dir, oldest
        # (the base) first; a partition with no live cells has no entry
        self._runs: dict[int, list[str]] = {}
        # highest batch_id whose merge COMMITTED (manifest renamed). Replays of
        # batches <= this are no-ops: the runs that batch superseded may
        # already be deleted, so it cannot be re-merged.
        self._last_applied: int = -1
        self._load_manifest()
        self._sweep()

    # -- durability ---------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.base_dir, self.MANIFEST)

    def _load_manifest(self) -> None:
        try:
            with open(self._manifest_path()) as f:
                doc = json.load(f)
        except FileNotFoundError:
            return
        if doc.get("n_partitions") != self.n_partitions:
            raise ValueError(
                f"manifest at {self.base_dir} was written with "
                f"n_partitions={doc.get('n_partitions')}, sink configured with "
                f"{self.n_partitions}; repartitioning state requires a rebuild"
            )
        if "runs" not in doc:
            raise ValueError(
                f"manifest at {self.base_dir} has no 'runs': it was written by "
                "the copy-on-write layout ('current'), which this sink does "
                "not read; rebuild the index"
            )
        # paths are relative to base_dir so the table directory is relocatable
        self._runs = {int(k): list(v) for k, v in doc["runs"].items()}
        self._last_applied = int(doc["last_applied"])

    def _commit(self, runs: dict[int, list[str]], batch_id: int) -> None:
        doc = {
            "n_partitions": self.n_partitions,
            "last_applied": batch_id,
            "runs": {str(k): v for k, v in sorted(runs.items())},
        }
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest_path())  # atomic commit point
        self._runs = runs
        self._last_applied = batch_id

    def _sweep(self) -> None:
        """Delete every run directory the manifest does not list, and every
        ``v{b}`` directory left with none."""
        if not os.path.isdir(self.base_dir):
            return
        live = {r for rs in self._runs.values() for r in rs}
        for v in os.listdir(self.base_dir):
            if not re.fullmatch(r"v\d+", v):
                continue
            runs = [f"{v}/{p}" for p in os.listdir(os.path.join(self.base_dir, v))
                    if p.startswith("_p=")]
            dead = [r for r in runs if r not in live]
            for r in [v] if len(dead) == len(runs) else dead:
                shutil.rmtree(os.path.join(self.base_dir, r))

    # -- merge and read -----------------------------------------------------

    def _folds(self, p: int, batch_id: int) -> bool:
        n = len(self._runs.get(p, ()))
        return n == 0 or n >= K or (n > 1 and (batch_id + p) % K == 0)

    def _scan(self, spark: SparkSession, runs: list[str]) -> DataFrame:
        return spark.read.schema(RUN_SCHEMA).parquet(
            *(os.path.join(self.base_dir, r) for r in runs)
        )

    def merge_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= self._last_applied:
            # checkpoint replay of a committed batch: true idempotent no-op
            return
        fold = [p for p in range(self.n_partitions) if self._folds(p, batch_id)]
        seq = F.lit(batch_id).cast("long").alias("seq")
        rows = batch_df.select("row_key", "qualifier", "value", "ts", "op", seq)
        folded = [r for p in fold for r in self._runs.get(p, ())]
        if folded:
            # existing cells and tombstones re-enter the merge at their
            # original ts (arrival-order semantics,
            # HbaseDataSyncEsObserver.java:101-104 whole-doc delete widening)
            rows = rows.unionByName(self._scan(batch_df.sparkSession, folded))
        # an explicit shuffle count: adaptive execution would coalesce a
        # batch-sized shuffle into one task, and write every run from it.
        # Here each of n_partitions tasks resolves and writes one run file.
        rows = rows.repartition(self.n_partitions, "row_key")
        # a folded partition becomes a base: nothing older is left for its
        # tombstones to hide
        unfolded = f"{self._pexpr} NOT IN ({', '.join(map(str, fold))})"
        out = resolve_cells(rows, unfolded if fold else "true", "seq").select(
            "*", seq, F.expr(self._pexpr).alias("_p")
        )
        vdir = f"v{batch_id}"
        # row keys and values are near-unique per file: parquet would build a
        # dictionary for them, then fall back to plain encoding
        out.write.mode("overwrite").partitionBy("_p").option(
            "parquet.enable.dictionary", "false"
        ).parquet(os.path.join(self.base_dir, vdir))
        runs = {p: rs for p, rs in self._runs.items() if p not in fold}
        for d in os.listdir(os.path.join(self.base_dir, vdir)):
            if d.startswith("_p="):
                runs.setdefault(int(d[3:]), []).append(f"{vdir}/{d}")
        self._commit(runs, batch_id)
        self._sweep()

    def read(self, spark: SparkSession) -> DataFrame:
        """The live cells. Valid until the next ``merge_batch``, which may
        delete the runs this frame scans. With no runs yet it is a scan of
        zero paths: an empty frame with no Python-side RDD behind it."""
        runs = [r for rs in self._runs.values() for r in rs]
        return resolve_cells(self._scan(spark, runs), seq="seq").drop("op")
