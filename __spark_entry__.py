"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Registry lives in :mod:`graphdb_neo4j_spark.registry`; this file stays a
thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from graphdb_neo4j_spark import registry  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (people recommendation, SURVEY.md §3.3) at sf0.001."""
    from graphdb_neo4j_spark.operators.recommend import recommend
    from graphdb_neo4j_spark.sources.tpch import node_snapshot

    return recommend(node_snapshot(spark, SF_SMOKE), anchor_id=1, limit=100)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return registry.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL mirror for each oracle-expressible query."""
    return registry.oracle_sql()
