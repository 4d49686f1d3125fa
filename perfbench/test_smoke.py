"""Smoke test of the benchmark at tiny sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each workload runs once untraced and once traced; every metric named in
BENCHMARK.json must be printed with its unit, and every check must pass.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench.spans import Tracer, tail

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_every_metric_is_printed_with_its_unit(workload, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "2", "--trace", str(trace), "--tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, proc.stderr[-3000:]
    assert result["failed"] == 0 and result["attempted"] >= 1
    wanted = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in wanted}
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in wanted)


def test_self_time_subtracts_covered_child_time():
    t = Tracer(tracing=True)
    t.begin(0)
    with t.span("outer", 1) as outer:
        with t.span("inner", 1, outer["id"]):
            sum(range(200_000))
    self_t = t.self_times()
    outer_span = next(s for s in t.spans if s.name == "outer")
    inner_span = next(s for s in t.spans if s.name == "inner")
    assert self_t["inner"] == [inner_span.end - inner_span.start]
    assert self_t["outer"][0] == pytest.approx(
        (outer_span.end - outer_span.start) - (inner_span.end - inner_span.start)
    )


def test_untraced_units_record_nothing():
    t = Tracer(tracing=True)
    assert t.begin(1) is False
    with t.span("x", 1) as rec:
        pass
    assert t.spans == [] and rec["duration"] >= 0


def test_tail_keeps_ten_samples_beyond_it():
    xs = [float(i) for i in range(1, 41)]
    value, pct = tail(xs)
    assert sum(1 for x in xs if x > value) == 10
    assert pct == 75.0
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0)
