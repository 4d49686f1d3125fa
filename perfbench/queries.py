"""The ``es_query`` and ``corpus_curate`` workloads: registry query functions
run over a seeded fixture by one closed-loop client.

Set-up runs every query once against its DuckDB oracle from
``registry.all_oracles()`` (full value hash; this is also the warm-up) and
keeps the oracle's row count. Each timed request then checks its row count.
A request is timed in two parts: ``query.build`` (the query function
returns a plan) and ``query.exec`` (a ``noop`` write executes it).
"""

from __future__ import annotations

import os
import time

import duckdb
import numpy as np

from .fixtures import write_fixture
from .spans import Tracer, median, next_unit_fits


class QueryWorkload:
    """Runs ``units`` of requests: each unit is a list of query names that
    is executed in order; units repeat until the time is up."""

    name = ""

    def __init__(self, cfg: dict, work: str, seed: int, tracer: Tracer, session: dict):
        self.spark = None
        self.cfg = cfg
        self.tracer = tracer
        self.seed = seed
        self.rng = np.random.default_rng(seed)
        self.sf_dir = os.path.join(work, "fixture")
        self.classes = {q: cls for cls, names in cfg["mix"].items() for q in names}
        self.expected_rows: dict[str, int] = {}
        self.requests: list[dict] = []
        self.unit_times: list[dict] = []
        self.failures: list[str] = []

    def prepare(self) -> None:
        """Write the seeded fixture, load the query registry and run every
        oracle in DuckDB, keeping each result as a table (no Spark session
        needed)."""
        from hbase_observer_es_spark.registry import all_oracles, all_queries

        t0 = time.perf_counter()
        self.tables = write_fixture(self.sf_dir, self.seed, self.cfg["tables"])
        queries, oracles = all_queries(), all_oracles()
        self.fns = {q: queries[q] for q in self.classes}
        self.con = duckdb.connect()
        for t in self.tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
            )
        for q in self.fns:
            self.con.execute(f"CREATE TABLE oracle_{q} AS {oracles[q]}")
        self.phases = {"inputs": time.perf_counter() - t0}

    def setup(self, spark) -> None:
        from tests.oracle_harness import compare

        self.spark = spark
        for q, fn in self.fns.items():
            t0 = time.perf_counter()
            res = compare(q, fn(self.spark, self.sf_dir), self.con, f"SELECT * FROM oracle_{q}")
            self.phases[q] = time.perf_counter() - t0
            if not res.ok:
                self.failures.append(f"{q}: oracle mismatch: {res.detail}")
            self.expected_rows[q] = res.row_count_oracle
        self.con.close()
        # the JVM keeps compiling for several rounds after the first
        t0 = time.perf_counter()
        units = self.units()
        for i in range(self.cfg["warm_units"]):
            for q in next(units):
                self._request(q, -1, False)
        self.phases["warm_units"] = time.perf_counter() - t0

    def units(self):
        raise NotImplementedError

    def _request(self, q: str, op: int, traced: bool) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        t = self.tracer
        sc = self.spark.sparkContext
        group = f"perfbench-{self.name}-{op}"
        if traced:
            sc.setJobGroup(group, q)
        with t.span(f"{self.classes[q]}.request", op) as root:
            with t.span("query.build", op, root["id"]):
                df = self.fns[q](self.spark, self.sf_dir)
            with t.span("query.exec", op, root["id"]):
                obs = Observation(f"rows{op}")
                df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                    "overwrite"
                ).save()
                n = obs.get["n"]
        op_rec = {
            "q": q, "traced": traced, "latency": root["duration"], "busy": root["duration"],
            "work": 1, "ok": n == self.expected_rows[q],
        }
        if traced:
            op_rec["jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            sc.setLocalProperty("spark.jobGroup.id", None)
        if not op_rec["ok"]:
            self.failures.append(f"{q}: {n} rows, oracle has {self.expected_rows[q]}")
        return op_rec

    def run(self, seconds: float, max_units: int | None = None) -> None:
        start = time.perf_counter()
        op = 0
        for i, unit in enumerate(self.units()):
            if i == max_units or not next_unit_fits(
                i, time.perf_counter() - start, seconds, self.tracer
            ):
                break
            traced = self.tracer.begin(i)
            t_unit = time.perf_counter()
            ok = True
            for q in unit:
                try:
                    rec = self._request(q, op, traced)
                except Exception as e:  # a failed request is counted, the stream goes on
                    self.failures.append(f"{q}: {type(e).__name__}: {e}")
                    rec = {"q": q, "ok": False, "traced": traced, "work": 1}
                rec["unit"] = i
                ok = ok and rec["ok"]
                self.requests.append(rec)
                op += 1
            self.unit_times.append(
                {"ok": ok, "traced": traced, "wall": time.perf_counter() - t_unit}
            )

    def verify(self) -> None:
        """Every request was checked as it completed."""

    def close(self) -> None:
        """Nothing outlives the session."""

    @property
    def ops(self) -> list[dict]:
        """The timed operations: one per request."""
        return self.requests

    def jobs_per_unit(self, traced: list[dict]) -> dict[str, float]:
        raise NotImplementedError

    def layer_metrics(self) -> dict[str, float]:
        traced = [o for o in self.requests if o.get("traced") and o["ok"]]
        out = self.jobs_per_unit(traced)
        for metric, names in self.cfg["layer_metrics"].items():
            out[metric] = median([o["latency"] for o in traced if o["q"] in names])
        return out


class EsQuery(QueryWorkload):
    """A seeded, shuffled stream of ES-surface requests: each unit is one
    shuffled round over the request mix."""

    name = "es_query"

    def units(self):
        names = list(self.fns)
        while True:
            yield [names[i] for i in self.rng.permutation(len(names))]

    def jobs_per_unit(self, traced: list[dict]) -> dict[str, float]:
        return {"spark.jobs_per_query": median([float(o["jobs"]) for o in traced])}


class CorpusCurate(QueryWorkload):
    """Repeated passes over the heavy data-pipeline jobs, in a fixed order.
    Whole passes only, so every run reports the same job mix."""

    name = "corpus_curate"

    def units(self):
        while True:
            yield list(self.fns)

    def jobs_per_unit(self, traced: list[dict]) -> dict[str, float]:
        passes: dict[int, float] = {}
        for o in traced:
            passes[o["unit"]] = passes.get(o["unit"], 0.0) + o["jobs"]
        return {"spark.jobs_per_pass": median(list(passes.values()))}

    def layer_metrics(self) -> dict[str, float]:
        out = super().layer_metrics()
        out["corpus.pass_s"] = median([o["latency"] for o in self.ops if o["ok"] and o["traced"]])
        return out

    @property
    def ops(self) -> list[dict]:
        """The timed operations: one per pass over the job list."""
        passes: dict[int, list[dict]] = {}
        for r in self.requests:
            passes.setdefault(r["unit"], []).append(r)
        return [
            {
                "ok": all(r["ok"] for r in rs), "traced": rs[0]["traced"],
                "latency": sum(r.get("latency", 0.0) for r in rs),
                "busy": sum(r.get("busy", 0.0) for r in rs), "work": len(rs),
            }
            for rs in passes.values()
        ]
