"""Projection / filter / point-lookup operators (SURVEY.md §2.2) and the
simple aggregations (§2.4 A1-A3).

Reference counterparts:
- P1 projection scan: all student names (/root/reference/src/llm_cypher.py:15-22)
- P2 point lookup by id (student_service.py:110-132)
- P3 existence probe (student_service.py:139-144)
- P4 case-insensitive name equality (llm_cypher.py:98-102)
- A1 MAX(id) with null→0 coalesce (student_service.py:33-38)
- A2/A3 COUNT (student_service.py:216-220, llm_cypher.py:259-261)

All are single-scan Catalyst plans: the predicate and projection reach the
parquet reader (PushedFilters / ReadSchema), so at 100 TB each of these
touches only the row groups and columns it needs. The point, existence and
name lookups take the node table as input (the persisted
:func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot`, or a service's
snapshot ∪ overlay view); their ``q_*`` registry wrappers pass the
snapshot.

The service's reads also have ``*_arrow`` forms over the same node table
held on the driver as a ``pyarrow.Table``
(:func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot_table`). Each one
returns the rows its Spark form's ``collect()`` returns, as dicts with the
same column names and Python types.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.graph import NODE_COLUMNS
from graphdb_neo4j_spark.sources.tpch import (
    CUST_PARTS_CTE,
    NODES_CTE,
    customer_nodes,
    full_nodes,
    load_table,
    node_snapshot,
)


def node_names(nodes: DataFrame) -> DataFrame:
    """P1 — all node names (nulls dropped, as the reference's Python loop
    does at llm_cypher.py:19)."""
    return nodes.select("name").filter(F.col("name").isNotNull())


def node_names_arrow(nodes: pa.Table) -> list[dict]:
    """:func:`node_names` over a driver-side node table, in table order."""
    return [{"name": n} for n in pc.drop_null(nodes.column("name")).to_pylist()]


def q_node_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return node_names(customer_nodes(spark, sf_dir))


NODE_NAMES_SQL = f"""
WITH {NODES_CTE.strip()}
SELECT name FROM nodes WHERE name IS NOT NULL
"""


def point_lookup(nodes: DataFrame, node_id: int) -> DataFrame:
    """P2 — one node, ALL 7 properties (the reference's detail row returns
    interests too, student_service.py:110-132)."""
    return nodes.filter(F.col("id") == node_id)


def _rows_where(nodes: pa.Table, column: str, value, limit: int | None = None) -> list[dict]:
    """The rows of ``nodes`` whose ``column`` equals ``value`` (NULL never
    equal), in table order, at most ``limit`` of them."""
    hit = nodes.filter(pc.fill_null(pc.equal(nodes.column(column), value), False))
    return (hit if limit is None else hit.slice(0, limit)).to_pylist()


def point_lookup_arrow(nodes: pa.Table, node_id: int) -> list[dict]:
    """:func:`point_lookup` over a driver-side node table."""
    return _rows_where(nodes, "id", node_id)


def q_point_lookup(spark: SparkSession, sf_dir: str, node_id: int = 42) -> DataFrame:
    """:func:`point_lookup` on the snapshot; the array is emitted as a
    sorted comma-join so the oracle hash is representation-stable."""
    return point_lookup(node_snapshot(spark, sf_dir), node_id).select(
        *NODE_COLUMNS[:-1],
        F.concat_ws(",", F.array_sort("interests")).alias("interests"),
    )


def point_lookup_sql(node_id: int = 42) -> str:
    return f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()}
SELECT id, name, address, college, board, stream,
       COALESCE((SELECT string_agg(interest, ',' ORDER BY interest)
                 FROM cust_parts cp WHERE cp.id = nodes.id), '') AS interests
FROM nodes WHERE id = {node_id}
"""


def _named(nodes: DataFrame, name: str) -> DataFrame:
    return nodes.filter(F.col("name") == F.lower(F.trim(F.lit(name))))


def single_student_detail(nodes: DataFrame, name: str) -> DataFrame:
    """The NL layer's single-student template (llm_cypher.py:98-102): one
    node by its pre-normalized name, all 7 properties."""
    return _named(nodes, name).limit(1).select(*NODE_COLUMNS)


def single_student_detail_arrow(nodes: pa.Table, name: str) -> list[dict]:
    """:func:`single_student_detail` over a driver-side node table: the
    first row of that name in table order (``trim`` strips spaces only, as
    Spark's does)."""
    return _rows_where(nodes, "name", name.strip(" ").lower(), limit=1)


def exists(nodes: DataFrame, node_id: int) -> DataFrame:
    """P3 — existence probe as a 1-row boolean (semantically a semi-join)."""
    return (
        nodes.filter(F.col("id") == node_id)
        .groupBy()
        .agg((F.count("*") > 0).alias("found"))
    )


def exists_arrow(nodes: pa.Table, node_id: int) -> list[dict]:
    """:func:`exists` over a driver-side node table."""
    return [{"found": bool(pc.any(pc.equal(nodes.column("id"), node_id)).as_py())}]


def q_exists(spark: SparkSession, sf_dir: str, node_id: int = 42) -> DataFrame:
    return exists(node_snapshot(spark, sf_dir), node_id)


def exists_sql(node_id: int = 42) -> str:
    return f"""
WITH {NODES_CTE.strip()}
SELECT COUNT(*) > 0 AS found FROM nodes WHERE id = {node_id}
"""


def name_ci_lookup(nodes: DataFrame, name: str) -> DataFrame:
    """P4 — case-insensitive single-name lookup (the LLM single-student
    template forces toLower on both sides)."""
    return _named(nodes, name).select("id", "name", "college", "board", "stream")


def q_name_ci_lookup(
    spark: SparkSession, sf_dir: str, name: str = "Customer#000000042"
) -> DataFrame:
    return name_ci_lookup(node_snapshot(spark, sf_dir), name)


def name_ci_lookup_sql(name: str = "Customer#000000042") -> str:
    escaped = name.replace("'", "''")
    return f"""
WITH {NODES_CTE.strip()}
SELECT id, name, college, board, stream FROM nodes
WHERE name = lower(trim('{escaped}'))
"""


def q_max_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — id-allocation read: MAX(id) with the null→0 coalesce."""
    return (
        customer_nodes(spark, sf_dir)
        .groupBy()
        .agg(F.coalesce(F.max("id"), F.lit(0)).alias("max_id"))
    )


MAX_ID_SQL = f"""
WITH {NODES_CTE.strip()}
SELECT COALESCE(MAX(id), 0) AS max_id FROM nodes
"""


def q_count_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/A3 — COUNT over the node set."""
    return customer_nodes(spark, sf_dir).groupBy().agg(F.count("*").alias("n"))


COUNT_NODES_SQL = f"""
WITH {NODES_CTE.strip()}
SELECT COUNT(*) AS n FROM nodes
"""


def q_top_acctbal(spark: SparkSession, sf_dir: str, k: int = 25) -> DataFrame:
    """O1+O2 — deterministic top-k (score DESC, id tiebreak); Catalyst plans
    TakeOrderedAndProject, not a full sort."""
    customer = load_table(spark, sf_dir, "customer")
    return (
        customer.select(
            F.col("c_custkey").cast("long").alias("id"),
            F.col("c_acctbal").alias("acctbal"),
        )
        .orderBy(F.desc("acctbal"), F.asc("id"))
        .limit(k)
    )


def top_acctbal_sql(k: int = 25) -> str:
    return f"""
SELECT c_custkey AS id, c_acctbal AS acctbal
FROM customer ORDER BY acctbal DESC, id ASC LIMIT {k}
"""


def q_interests_transformed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F10 — per-element array transform (the reference's
    ``[x IN l | toLower(x)]``, student_service.py:215), applied as a
    visible prefix-tag so the transform itself is oracle-checked; emitted
    as a sorted comma-join for hash stability."""
    return full_nodes(spark, sf_dir).select(
        "id",
        F.concat_ws(
            ",",
            F.array_sort(F.transform("interests", lambda x: F.concat(F.lit("p_"), x))),
        ).alias("tagged_interests"),
    )


INTERESTS_TRANSFORMED_SQL = f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()}
SELECT n.id,
       COALESCE((SELECT string_agg('p_' || interest, ',' ORDER BY 'p_' || interest)
                 FROM cust_parts cp WHERE cp.id = n.id), '') AS tagged_interests
FROM nodes n
"""


# --- k-anonymity profile (privacy governance) --------------------------------

KANON_K = 10
KANON_QUASI = ("college", "board", "stream")


def q_k_anonymity(
    spark: SparkSession, sf_dir: str, k: int = KANON_K
) -> DataFrame:
    """k-anonymity audit over the node table's quasi-identifier
    combination (college, board, stream): how re-identifiable is a
    "de-identified" export? A record in an equivalence class of size < k
    is at risk; the report gives per-class-size-band counts plus the
    dataset's k (its smallest class) — the release gate a governance
    pipeline runs before sharing derived data.

    Scale shape: ONE aggregation to equivalence classes (≤ product of
    quasi-identifier cardinalities, partial-combined map-side), then a
    ≤|classes|-row rollup — the fact table is touched once. Generalizing
    a column to pass the gate (e.g. dropping `stream`) is re-running
    this with a shorter tuple; the plan shape is identical.
    """
    from graphdb_neo4j_spark.sources.tpch import customer_nodes

    nodes = customer_nodes(spark, sf_dir)
    classes = nodes.groupBy(*KANON_QUASI).agg(F.count("*").alias("class_size"))
    band = (
        F.when(F.col("class_size") < k, F.lit("at_risk"))
        .otherwise(F.lit("anonymous"))
    )
    return (
        classes.groupBy(band.alias("band"))
        .agg(
            F.count("*").alias("n_classes"),
            F.sum("class_size").alias("n_records"),
            F.min("class_size").alias("min_class_size"),
        )
    )


def k_anonymity_sql(k: int = KANON_K) -> str:
    return f"""
WITH {NODES_CTE.strip()},
classes AS (
    SELECT college, board, stream, COUNT(*) AS class_size
    FROM nodes GROUP BY college, board, stream
)
SELECT CASE WHEN class_size < {k} THEN 'at_risk' ELSE 'anonymous' END AS band,
       COUNT(*) AS n_classes,
       CAST(SUM(class_size) AS BIGINT) AS n_records,
       MIN(class_size) AS min_class_size
FROM classes
GROUP BY 1
"""
