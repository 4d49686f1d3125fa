"""HBase REST cell-set source: decode correctness against hand-encoded
fixtures, delete-log parsing, malformed-line tolerance, and the full
wire-to-wire path (REST JSON in → mutation stream → ES _bulk NDJSON out)."""

from __future__ import annotations

import datetime as dt
import json

from hbase_observer_es_spark.sources.hbase_rest import (
    encode_cellset,
    encode_delete,
    parse_change_log,
)


def _lines(spark, lines: list[str]):
    return spark.createDataFrame([(ln,) for ln in lines], "value string")


def test_cellset_decodes_to_mutations(spark):
    """Row key, family-stripped qualifier, value, and ms timestamp all decode
    exactly; one line's cells share the Put's row key."""
    line = encode_cellset(
        "user42",
        [("cf:click", "7", 1704067200000), ("meta:view", "3", 1704067200001)],
    )
    rows = sorted(
        parse_change_log(_lines(spark, [line])).collect(), key=lambda r: r.qualifier
    )
    assert [(r.row_key, r.qualifier, r.value, r.op) for r in rows] == [
        ("user42", "click", "7", "upsert"),
        ("user42", "view", "3", "upsert"),
    ]
    assert rows[0].ts == dt.datetime(2024, 1, 1, 0, 0, 0)
    assert rows[1].ts == dt.datetime(2024, 1, 1, 0, 0, 0, 1000)  # ms precision


def test_qualifier_with_colon_keeps_tail(spark):
    """HBase splits family:qualifier at the FIRST colon — a qualifier may
    itself contain colons (CellUtil.cloneQualifier), so 'cf:a:b' decodes to
    qualifier 'a:b', not 'b'."""
    line = encode_cellset("k", [("cf:a:b", "v", 1)])
    (row,) = parse_change_log(_lines(spark, [line])).collect()
    assert row.qualifier == "a:b"


def test_delete_log_and_mixed_stream(spark):
    up = encode_cellset("k1", [("cf:q", "v", 1000)])
    de = encode_delete("k1", 2000)
    muts = parse_change_log(_lines(spark, [up, de])).collect()
    ops = {r.op for r in muts}
    assert ops == {"upsert", "delete"}
    d = next(r for r in muts if r.op == "delete")
    assert d.row_key == "k1" and d.qualifier is None and d.value is None
    # a delete-only log parses to the same tombstone as the mixed log
    (d2,) = parse_change_log(_lines(spark, [de])).collect()
    assert (d2.row_key, d2.op, d2.ts) == (d.row_key, d.op, d.ts)


def test_malformed_lines_drop_not_die(spark):
    lines = [
        encode_cellset("ok", [("cf:q", "v", 1)]),
        "not json at all",
        '{"Row": "wrong shape"}',
        json.dumps({"unrelated": 1}),
    ]
    out = parse_change_log(_lines(spark, lines)).collect()
    assert [r.row_key for r in out] == ["ok"]


def test_wire_to_wire_rest_in_bulk_out(spark):
    """The reference pipeline at the wire level, no network: REST cell-set
    JSON in → mutation contract → ES _bulk NDJSON out, and the bulk doc
    equals the decoded cells."""
    from hbase_observer_es_spark.sinks.es_bulk import bulk_actions

    line = encode_cellset(
        "row9", [("cf:click", "1", 5000), ("cf:view", "2", 5000)]
    )
    actions = bulk_actions(parse_change_log(_lines(spark, [line])), index="obs")
    (r,) = actions.collect()
    meta, doc = (json.loads(ln) for ln in r.action.split("\n"))
    assert meta == {"update": {"_index": "obs", "_id": "row9"}}
    assert doc["doc"] == {"click": "1", "view": "2"} and doc["doc_as_upsert"]


def test_parse_is_map_only_no_shuffle(spark):
    """Scale posture: the parse plan is scan → project/generate only — no
    exchange, no Python stage (the module docstring's 100 TB claim)."""
    df = parse_change_log(_lines(spark, [encode_cellset("k", [("cf:q", "v", 1)])]))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_streaming_rest_log_to_bulk(spark):
    """The docstring's streaming claim, executed: readStream.text over a REST
    change-log directory -> parse_change_log (same pure column transforms) ->
    EsBulkSink. The full reference path, streaming, wire to wire."""
    import os

    from hbase_observer_es_spark.sinks.es_bulk import EsBulkSink
    from hbase_observer_es_spark.sources.filestream import scratch_dir

    out = scratch_dir("rest_stream_test")
    log_dir = os.path.join(out, "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b0.ndjson"), "w") as f:
        f.write(encode_cellset("u1", [("cf:click", "1", 1000)]) + "\n")
        f.write(encode_cellset("u2", [("cf:view", "2", 2000)]) + "\n")
        f.write(encode_delete("u1", 3000) + "\n")

    sink = EsBulkSink(os.path.join(out, "bulk"), index="obs", n_partitions=1)
    stream = parse_change_log(spark.readStream.text(log_dir))
    q = (
        stream.writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    lines = []
    bdir = sink.batch_dir(0)
    for fn in sorted(os.listdir(bdir)):
        if fn.startswith("part-"):
            with open(os.path.join(bdir, fn)) as fh:
                lines += [json.loads(ln) for ln in fh if ln.strip()]
    kinds = [next(iter(ln)) for ln in lines]
    assert kinds.count("update") == 2 and kinds.count("delete") == 1
    # u1's delete (ts 3000) sorts after u1's upsert (ts 1000) in the body
    assert kinds.index("delete") > kinds.index("update")


def test_change_log_single_scan(spark):
    """parse_change_log plans exactly ONE scan of the source: the mutation
    array (upserts ++ delete) is assembled per line and exploded once — a
    two-branch union would scan twice."""
    df = parse_change_log(
        _lines(spark, [encode_cellset("k", [("cf:q", "v", 1)]), encode_delete("k", 2)])
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan ExistingRDD") == 1, plan  # createDataFrame source
    assert "Union" not in plan, plan
    assert plan.count("Generate explode") == 1, plan


def test_full_reference_loop_with_response_retry(spark):
    """The COMPLETE reference delivery loop at the wire level, both
    directions, no network: REST change-log in → streaming parse → _bulk
    request bodies out → a synthesized partial-failure _bulk RESPONSE back →
    the reference's whole-request requeue AND the selective retry, whose
    re-POST body must re-split into exactly the originally-failed actions.
    Everything ElasticsearchBulkOperator.java does around its HTTP call,
    reproduced end to end."""
    import os

    from hbase_observer_es_spark.sinks.es_bulk import EsBulkSink
    from hbase_observer_es_spark.sinks.es_bulk_response import (
        reference_retry_body,
        selective_retry_body,
        split_actions,
    )
    from hbase_observer_es_spark.sources.filestream import scratch_dir

    out = scratch_dir("rest_loop_test")
    log_dir = os.path.join(out, "log")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "b0.ndjson"), "w") as f:
        f.write(encode_cellset("u1", [("cf:click", "1", 1000)]) + "\n")
        f.write(encode_cellset("u2", [("cf:view", "2", 2000)]) + "\n")
        f.write(encode_delete("u1", 3000) + "\n")

    sink = EsBulkSink(os.path.join(out, "bulk"), index="obs", n_partitions=1)
    stream = parse_change_log(spark.readStream.text(log_dir))
    q = (
        stream.writeStream.foreachBatch(sink.write_batch)
        .option("checkpointLocation", os.path.join(out, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    bdir = sink.batch_dir(0)
    body = ""
    for fn in sorted(os.listdir(bdir)):
        if fn.startswith("part-"):
            body += open(os.path.join(bdir, fn)).read()
    actions = split_actions(body)
    assert len(actions) == 3  # u1 update, u1 delete, u2 update

    # ES answers: second action hits bulk-queue rejection (429), rest OK
    items = []
    for k, a in enumerate(actions):
        verb = "delete" if a.startswith('{"delete"') else "update"
        entry = {"_index": "obs", "_id": f"i{k}", "status": 200}
        if k == 1:
            entry["status"] = 429
            entry["error"] = {"type": "es_rejected_execution_exception",
                              "reason": "bulk queue full"}
        items.append({verb: entry})
    resp = json.dumps({"took": 3, "errors": True, "items": items})

    # the reference's discipline: the WHOLE body re-queues, byte-identically
    assert reference_retry_body(body, resp) == body
    # the selective discipline: exactly the rejected action, verbatim
    retry, dead = selective_retry_body(body, resp)
    assert split_actions(retry) == [actions[1]]
    assert dead == []
    # idempotence of the loop: if the retry POST succeeds, nothing remains
    ok_items = [{next(iter(i)): {"_index": "obs", "_id": "x", "status": 200}}
                for i in [items[1]]]
    retry2, dead2 = selective_retry_body(
        retry, json.dumps({"took": 1, "errors": False, "items": ok_items})
    )
    assert retry2 is None and dead2 == []
