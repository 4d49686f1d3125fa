"""The repository benchmark: one workload per invocation, in one process.

    python3 perfbench/run.py --workload cdc_sync --seed 1 --seconds 15 --trace 0

Run from the repository root. Set-up (session start, seeded inputs, oracle
checks, one warm-up of the workload's code path) is timed as ``setup_s``;
then one closed-loop client runs the workload for ``--seconds``; then the
outputs are checked. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports
the end-to-end metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones,
with units of work alternating traced/untraced to measure tracing overhead.

Everything the run writes goes under a fresh ``.perfbench/run-*`` directory
that is removed at exit; a traced run keeps its spans in
``.perfbench/trace-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="smoke-test sizes")
    return p.parse_args(argv)


def _config(workload: str, tiny: bool) -> tuple[dict, dict]:
    with open(os.path.join(HERE, "workloads.json")) as f:
        spec = json.load(f)
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}; known: {sorted(spec['workloads'])}")
    cfg = dict(spec["workloads"][workload])
    if tiny:
        cfg.update(spec["tiny"][workload])
    return spec["session"], cfg


def _pin_environment(work: str, session: dict) -> int:
    """Send every file Spark, the JVM and Python write into ``work``; run
    on every CPU this process may use."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": session["driver_memory"],
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        # a fixed-size heap and young generation, touched at start, keep the
        # JVM's resident size from following the collector's resizing and
        # its choice of which regions to use
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{session['driver_memory']} -Xmn{session['young_memory']} "
            "-XX:+AlwaysPreTouch' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    })
    tempfile.tempdir = tmp
    os.chdir(work)
    return cpus


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def end_to_end(ops: list[dict], setup_s: float, rss_mb: float) -> tuple[dict, list[str]]:
    from perfbench.spans import median, tail

    ok = [o for o in ops if o["ok"]]
    lat = [o["latency"] for o in ok]
    busy = sum(o["busy"] for o in ok)
    tail_v, tail_pct = tail(lat)
    values = {
        "setup_s": setup_s,
        "throughput_per_s": sum(o["work"] for o in ok) / busy if busy else 0.0,
        "latency_p50_s": median(lat),
        "latency_tail_s": tail_v,
        "peak_rss_mb": rss_mb,
    }
    notes = [
        f"latency_tail_s is p{tail_pct:.1f} of {len(lat)} samples",
        "latencies: " + " ".join(f"{x:.3f}" for x in lat),
    ]
    return values, notes


def trace_overhead(units: list[dict]) -> float:
    """Mean wall time of a traced unit of work minus that of an untraced
    one. A unit's wall time covers everything the client does for it,
    tracing's own job-group calls and index statistics included."""
    t = [u["wall"] for u in units if u["ok"] and u["traced"]]
    n = [u["wall"] for u in units if u["ok"] and not u["traced"]]
    if not t or not n:
        return 0.0
    return sum(t) / len(t) - sum(n) / len(n)


def main(argv=None) -> int:
    args = _parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    session, cfg = _config(args.workload, args.tiny)
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=base)
    cwd = os.getcwd()
    spark = workload = extra = None
    try:
        cpus = _pin_environment(work, session)
        from hbase_observer_es_spark.session import get_spark
        from perfbench.cdc import CdcSync
        from perfbench.procs import PeakMemory, steal_ticks
        from perfbench.queries import CorpusCurate, EsQuery
        from perfbench.spans import Tracer, median

        kinds = {w.name: w for w in (CdcSync, EsQuery, CorpusCurate)}
        tracer = Tracer(tracing=bool(args.trace))
        workload = kinds[args.workload](cfg, work, args.seed, tracer, session)
        if args.trace and "traced_also" in cfg:
            # a traced run may also run another workload's jobs after the
            # timed window, for their per-layer figures only
            name = cfg["traced_also"]
            extra = kinds[name](_config(name, args.tiny)[1], os.path.join(work, name),
                                args.seed, tracer, session)
        # inputs are generated while the JVM starts
        with ThreadPoolExecutor(1) as pool:
            inputs = pool.submit(workload.prepare)
            t0 = time.perf_counter()
            spark = get_spark("perfbench", session["shuffle_partitions"])
            spark.sparkContext.setLogLevel("ERROR")
            session_s = time.perf_counter() - t0
            inputs.result()
        workload.setup(spark)
        setup_s = time.perf_counter() - t_start
        steal0 = steal_ticks()
        with PeakMemory() as memory:
            workload.run(args.seconds)
        steal1 = steal_ticks()
        rss = memory.peak
        workload.verify()
        ops = workload.ops
        if args.trace:
            values = dict(workload.layer_metrics())
            self_t = tracer.self_times()
            values["query.build_s"] = median(self_t.get("query.build", []))
            values["query.exec_s"] = median(self_t.get("query.exec", []))
            values["session.start_s"] = session_s
            values["trace.overhead_s"] = trace_overhead(workload.unit_times)
            if extra is not None:
                extra.prepare()
                extra.setup(spark)
                extra.run(0.0, max_units=1)
                values.update(extra.layer_metrics())
            values["trace.spans"] = float(len(tracer.spans))
            wanted = bench["per_layer"]
            tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.jsonl"))
            notes = []
        else:
            values, notes = end_to_end(ops, setup_s, rss)
            notes.append(f"peak memory: JVM {memory.jvm_kb / 1024:.0f} MB, "
                         f"Python workers {memory.workers_kb / 1024:.0f} MB")
            steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
            notes.append(f"CPU time the host took from this machine while timing: {steal:.1%}")
            wanted = bench["end_to_end"]
        failures = workload.failures + (extra.failures if extra is not None else [])
    finally:
        for w in (workload, extra):
            if w is not None:
                w.close()
        if spark is not None:
            _stop_spark(spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    for f in failures[:20]:
        print(f"check failed: {f}", file=sys.stderr)
    print(f"workload {args.workload} seed {args.seed} on local[{cpus}]: "
          f"{len(ops)} operations, set-up {setup_s:.2f} s")
    for n in notes:
        print(n)
    print("set-up phases: " + ", ".join(
        f"{k} {v:.2f} s" for k, v in [("session", session_s)] + list(workload.phases.items())
    ))
    attempted = sum(o["work"] for o in ops)
    failed = sum(o["work"] for o in ops if not o["ok"])
    if failures and not failed:
        failed = 1  # a set-up or final check failed
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in wanted
    }
    result = {
        "correct": not failures,
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
