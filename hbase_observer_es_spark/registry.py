"""Central query registry: aggregates QUERIES/ORACLES from every operator module,
in ``_MODULES`` order.

``__spark_entry__.py`` (the driver contract) is a thin shim over this. A module
that fails to import fails loudly — a silent partial registry would under-report
coverage.

Output-shape contract: every registered query must emit SCALAR top-level columns
only — no ArrayType/MapType/StructType. The external verification harness
canonicalizes results by sorting rows in pandas, and complex-typed cells are
unhashable/unsortable there (numpy.ndarray), so an array-typed output column is
a hard driver failure even when values match. List-like results are emitted as
space-joined strings (`F.array_join` / `array_to_string`) or exploded to
one-row-per-element with an explicit sequence column (see geo_line.py).
Enforced registry-wide by tests/test_output_contract.py.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_MODULES = (
    "hbase_observer_es_spark.operators.similarity",
    "hbase_observer_es_spark.operators.search",
    "hbase_observer_es_spark.operators.scale_joins",
    "hbase_observer_es_spark.operators.scale_scan",
    "hbase_observer_es_spark.operators.udf_surface",
    "hbase_observer_es_spark.operators.multimodal",
    "hbase_observer_es_spark.operators.pipeline",
    "hbase_observer_es_spark.streaming.windows",
    "hbase_observer_es_spark.streaming.stateful",
    "hbase_observer_es_spark.operators.dedup",
    "hbase_observer_es_spark.operators.relational_ext",
    "hbase_observer_es_spark.operators.es_aggs",
    "hbase_observer_es_spark.operators.nested_geo",
    "hbase_observer_es_spark.operators.relational",
    "hbase_observer_es_spark.operators.scalar",
    "hbase_observer_es_spark.operators.cdc",
    "hbase_observer_es_spark.operators.text",
    "hbase_observer_es_spark.operators.es_aggs_stats",
    "hbase_observer_es_spark.operators.es_aggs_more",
    "hbase_observer_es_spark.operators.es_aggs_final",
    "hbase_observer_es_spark.operators.search_score",
    "hbase_observer_es_spark.operators.pii",
    "hbase_observer_es_spark.operators.search_compound",
    "hbase_observer_es_spark.operators.hybrid",
    "hbase_observer_es_spark.operators.span",
    "hbase_observer_es_spark.operators.mining",
    "hbase_observer_es_spark.operators.cdc_fields",
    "hbase_observer_es_spark.operators.geo_line",
    "hbase_observer_es_spark.operators.splits",
    "hbase_observer_es_spark.streaming.scrub",
    "hbase_observer_es_spark.operators.percolate",
    "hbase_observer_es_spark.operators.query_string",
    "hbase_observer_es_spark.operators.corpus_stats",
    "hbase_observer_es_spark.operators.relational_more",
    "hbase_observer_es_spark.operators.ann_eval",
    "hbase_observer_es_spark.operators.search_ln",
    "hbase_observer_es_spark.operators.es_join",
    "hbase_observer_es_spark.operators.rescore",
    "hbase_observer_es_spark.operators.es_extra",
    "hbase_observer_es_spark.operators.html_text",
    "hbase_observer_es_spark.operators.graph",
    "hbase_observer_es_spark.operators.dedup_substring",
    "hbase_observer_es_spark.operators.pq",
    "hbase_observer_es_spark.operators.incremental",
    "hbase_observer_es_spark.operators.dedup_eval",
    "hbase_observer_es_spark.operators.zorder",
    "hbase_observer_es_spark.operators.profile",
    "hbase_observer_es_spark.operators.ngramlm",
    "hbase_observer_es_spark.operators.classifier",
    "hbase_observer_es_spark.operators.drift",
    "hbase_observer_es_spark.operators.mixture",
)


def _load() -> tuple[dict[str, QueryFn], dict[str, str]]:
    import importlib

    queries: dict[str, QueryFn] = {}
    oracles: dict[str, str] = {}
    for modname in _MODULES:
        mod = importlib.import_module(modname)
        for name, fn in getattr(mod, "QUERIES", {}).items():
            if name in queries:
                raise ValueError(f"duplicate query name {name!r} from {modname}")
            queries[name] = fn
        oracles.update(getattr(mod, "ORACLES", {}))
    unknown = set(oracles) - set(queries)
    if unknown:
        raise ValueError(f"oracle without query: {sorted(unknown)}")
    return queries, oracles


def all_queries() -> dict[str, QueryFn]:
    return _load()[0]


def all_oracles() -> dict[str, str]:
    return _load()[1]
