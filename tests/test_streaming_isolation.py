"""Streaming session-conf isolation (round 9).

The state-store partition count and the no-data-micro-batch flag are
conf-at-query-start knobs — no per-frame equivalent exists — so the streaming
path must set them via session conf. The hazard class (same one fixed in
q_dedup_clusters in round 8): mutating the CALLER's session leaks plan width
to any batch query running concurrently, even under try/finally. The fix is
isolation: every streaming query builds on a ``newSession()`` clone
(`_streaming_session`), so no ``spark.conf.set`` ever targets the caller's
session in the streaming query path. Proven two ways here: structurally (AST
— the only conf.set calls in the streaming modules live inside
`_streaming_session`) and behaviorally (caller conf is bit-identical across a
run that needs BOTH overrides, and the returned frame is bound to the clone).
"""

from __future__ import annotations

import ast
import inspect

from .conftest import SF_SMOKE


def _conf_set_owners(module) -> list[tuple[str, str]]:
    """(enclosing-function-name, receiver-source) for every `X.conf.set(...)`
    call in the module source."""
    tree = ast.parse(inspect.getsource(module))
    out = []

    class V(ast.NodeVisitor):
        def __init__(self):
            self.stack = ["<module>"]

        def visit_FunctionDef(self, node):
            self.stack.append(node.name)
            self.generic_visit(node)
            self.stack.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            if (
                isinstance(f, ast.Attribute)
                and f.attr == "set"
                and isinstance(f.value, ast.Attribute)
                and f.value.attr == "conf"
            ):
                out.append((self.stack[-1], ast.unparse(f.value.value)))
            self.generic_visit(node)

    V().visit(tree)
    return out


def test_streaming_modules_never_set_conf_on_caller_session():
    """Every conf.set in the streaming modules must live inside
    _streaming_session and target the newSession() clone — never the caller's
    session object."""
    from hbase_observer_es_spark.streaming import scrub, stateful, windows

    for module in (stateful, scrub, windows):
        for fn, receiver in _conf_set_owners(module):
            assert fn == "_streaming_session", (
                f"{module.__name__}.{fn} sets conf on {receiver!r} — streaming "
                "conf overrides belong only in _streaming_session"
            )
            assert receiver == "sub", (
                f"_streaming_session sets conf on {receiver!r}, not the "
                "isolated clone"
            )


def test_streaming_queries_start_streams_only_through_the_runner():
    """Every stream query is staged, started and drained by one harness:
    `.writeStream` appears in the streaming modules only inside
    `stateful._run_stream`. A query that builds its own writer names itself
    here (by its top-level function)."""
    from hbase_observer_es_spark.streaming import scrub, stateful, windows

    owners = set()
    for module in (stateful, scrub, windows):
        for top in ast.parse(inspect.getsource(module)).body:
            for node in ast.walk(top):
                if isinstance(node, ast.Attribute) and node.attr == "writeStream":
                    where = getattr(top, "name", "<module>")
                    owners.add(f"{module.__name__.rsplit('.', 1)[-1]}.{where}")
    assert owners <= {"stateful._run_stream"}, (
        "writeStream outside the runner in: "
        f"{sorted(owners - {'stateful._run_stream'})}"
    )


def test_streaming_run_leaves_caller_conf_untouched(spark):
    """Behavioral twin: run the query that needs BOTH overrides (shuffle width
    AND no-data-batch off — s_join_stream) and one plain streaming query, and
    the caller session's conf must be bit-identical before and after, at every
    point a concurrent batch query could observe it. The returned frame is
    bound to the isolated clone, not the caller."""
    from hbase_observer_es_spark.streaming.stateful import (
        s_join_stream,
        s_terms_stream,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    before = {k: spark.conf.get(k) for k in keys}

    df = s_join_stream(spark, SF_SMOKE)
    assert df.sparkSession is not spark  # bound to the isolated clone
    assert {k: spark.conf.get(k) for k in keys} == before
    df.collect()

    df2 = s_terms_stream(spark, SF_SMOKE)
    assert df2.sparkSession is not spark
    assert {k: spark.conf.get(k) for k in keys} == before
    assert 0 < len(df2.collect()) <= 3
    assert {k: spark.conf.get(k) for k in keys} == before


def test_streaming_plan_capture_records_executed_state_plan(spark):
    """The plan-audit hook (round 9): with LAST_PLANS set, a terminated
    streaming query records its final micro-batch's EXECUTED plan, and the
    parser extracts the state-store posture — including the isolated
    session's state partition count, which must appear in the plan text
    (proof the newSession() conf actually drove the state store)."""
    from .plan_inspect import streaming_plan_facts
    from hbase_observer_es_spark.streaming import stateful

    assert stateful.LAST_PLANS is None  # default: zero overhead
    stateful.LAST_PLANS = {}
    try:
        stateful.s_terms_stream(spark, SF_SMOKE).collect()
        plan = stateful.LAST_PLANS["s_terms_stream"]
    finally:
        stateful.LAST_PLANS = None

    assert "== Physical Plan ==" in plan
    f = streaming_plan_facts(plan)
    assert f.state_store_saves == 1 and f.state_store_restores == 1
    assert f.exchanges == 1  # one shuffle on the agg key, state-store wide
    assert not f.python_eval
    assert f"numPartitions = {stateful.STATE_PARTITIONS}" in plan


def test_streaming_sessions_are_pooled_and_results_unpinned(spark):
    """Repeated invocations must not grow driver state: same conf signature →
    the SAME pooled clone, and after a run the clone's catalog holds no temp
    view (the result was localCheckpoint-ed and the sink view dropped, so
    the rows' lifetime is the returned frame's, not the session's)."""
    from hbase_observer_es_spark.streaming import stateful

    df1 = stateful.s_terms_stream(spark, SF_SMOKE)
    s1 = df1.sparkSession
    rows1 = df1.collect()
    df2 = stateful.s_terms_stream(spark, SF_SMOKE)
    assert df2.sparkSession is s1  # pooled, not a fresh SessionState per call
    assert [t.name for t in s1.catalog.listTables()] == []  # nothing pinned
    # draining did not break the first result — still readable after the
    # second run dropped ITS view
    assert df1.collect() == rows1


def test_streaming_plan_facts_rejects_capture_sentinel():
    """The audit parser must not turn a capture-failure sentinel into a
    plausible all-zero posture (review finding r9)."""
    import pytest

    from .plan_inspect import streaming_plan_facts

    with pytest.raises(ValueError, match="physical section"):
        streaming_plan_facts("<capture failed: AttributeError: boom>")


def test_streaming_runs_leave_no_run_directories(spark):
    """Each stream query's ``.scratch/<query>_<uuid>`` run directory (staged
    input + checkpoint) goes with its result: a memory-sink query removes it
    once drained, and s_upsert_sink's lazy index read keeps it exactly as
    long as the returned frame object lives."""
    import gc

    from hbase_observer_es_spark.sources.filestream import SCRATCH
    from hbase_observer_es_spark.streaming.stateful import (
        s_terms_stream,
        s_upsert_sink,
    )

    def runs():
        return {p.name for p in SCRATCH.glob("s_*")}

    before = runs()
    terms = s_terms_stream(spark, SF_SMOKE)
    upsert = s_upsert_sink(spark, SF_SMOKE)
    n_terms, n_upsert = len(terms.collect()), len(upsert.collect())
    assert n_terms > 0 and n_upsert > 0
    left = runs() - before
    assert len(left) == 1 and left.pop().startswith("s_upsert_sink_")
    del terms, upsert
    gc.collect()
    assert runs() - before == set()
