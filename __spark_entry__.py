"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash). ``tests/test_oracle.py`` runs the same comparison for every
oracle on each tier-1 run.

Implementation lives in ``hbase_observer_es_spark``; this file is only the shim.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hbase_observer_es_spark.registry import all_oracles, all_queries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the 5-table star join (SURVEY.md §7 Phase 1) at sf0.001."""
    from hbase_observer_es_spark.operators.relational import q_join_star

    return q_join_star(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each hash-checkable query."""
    return all_oracles()
