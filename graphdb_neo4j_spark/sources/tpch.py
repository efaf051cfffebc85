"""TPC-H-shaped testdata → property graph projection.

The reference's domain (students with categorical attributes + an interests
array; SURVEY.md §1.1) is instantiated over the driver-provided tables
(FIXTURES.md §B): each customer becomes a node, its categorical attributes
play the role of the student attributes, and the set of parts it purchased
plays the role of the ``interests`` array:

    id        := c_custkey
    name      := lower(trim(c_name))
    college   := nation name        (25 values — the skewed attribute)
    board     := region name        (5 values — low cardinality)
    stream    := c_mktsegment       (5 values)
    address   := 'addr_' || floor(c_acctbal / 500)   (locality bucket → NEARBY)
    interests := collect_set(cast(l_partkey as string)) via orders ⋈ lineitem

Every builder here has an exact ANSI-SQL mirror (the *_CTE strings) used by
the DuckDB correctness oracle, so Spark results hash-match SQL results.

Scale notes: the nodes projection is two broadcast joins (nation and region
are tiny dims); interests is one shuffle (groupBy custkey) over the fact
join orders⋈lineitem, which co-partitions on o_orderkey/l_orderkey.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdb_neo4j_spark.graph import PropertyGraph, empty_edges

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# path -> (file stamp and inference confs, parquet schema) of the last read;
# see load_table
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
# session confs that change the schema Spark infers from a parquet footer
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.mergeSchema",
)


def _file_stamp(path: str) -> tuple | None:
    """(mtime_ns, size, inode) of ``path`` and, for a directory layout, of
    every entry in it; None when the driver cannot ``stat`` the path (a
    remote scheme, or a missing table)."""
    try:
        st = os.stat(path)
        stamp = [("", st.st_mtime_ns, st.st_size, st.st_ino)]
        if stat.S_ISDIR(st.st_mode):
            for e in os.scandir(path):
                es = e.stat()
                stamp.append((e.name, es.st_mtime_ns, es.st_size, es.st_ino))
    except OSError:
        return None
    return tuple(sorted(stamp))


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh relation over ``<sf_dir>/<name>.parquet``.

    Parquet schema inference costs one Spark job per read (it opens a
    footer), so each table's schema is resolved once and later reads pass it
    to the reader. The memo holds the ``StructType`` only, keyed by the path,
    a file stamp (``os.stat`` mtime_ns, size and inode) and the session
    confs that steer inference: a table rewritten at the same path is
    inferred again. Paths the driver cannot ``stat`` are inferred on every
    read. Every call returns a new relation, with a current file listing and
    its own attribute ids.
    """
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    stamp = _file_stamp(path)
    if stamp is not None:
        stamp += tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    memo = _SCHEMAS.get(path)
    known = stamp is not None and memo is not None and memo[0] == stamp
    df = (spark.read.schema(memo[1]) if known else spark.read).parquet(path)
    if stamp is not None and not known:
        _SCHEMAS[path] = (stamp, df.schema)
    return df


def customer_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes DataFrame (without interests) — id/name/address/college/board/stream.

    nation and region are small dims → explicit broadcast joins so the plan
    stays shuffle-free regardless of customer-table size.
    """
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        customer.join(
            F.broadcast(nation), customer.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.col("c_custkey").cast("long").alias("id"),
            F.lower(F.trim("c_name")).alias("name"),
            F.concat(
                F.lit("addr_"),
                F.floor(F.col("c_acctbal") / F.lit(500)).cast("int").cast("string"),
            ).alias("address"),
            F.lower(F.trim("n_name")).alias("college"),
            F.lower(F.trim("r_name")).alias("board"),
            F.lower(F.trim("c_mktsegment")).alias("stream"),
        )
    )


# Exact DuckDB mirror of customer_nodes(). Kept adjacent so drift is obvious.
NODES_CTE = """
nodes AS (
    SELECT c_custkey               AS id,
           lower(trim(c_name))     AS name,
           'addr_' || CAST(CAST(FLOOR(c_acctbal / 500) AS INT) AS VARCHAR) AS address,
           lower(trim(n_name))     AS college,
           lower(trim(r_name))     AS board,
           lower(trim(c_mktsegment)) AS stream
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
)
"""


def customer_interest_pairs_raw(
    spark: SparkSession, sf_dir: str, part_keys: list[int] | None = None
) -> DataFrame:
    """(id, interest) pairs straight off the fact join — NOT deduplicated.

    Callers that only need distinct-counts after further filtering should use
    this and ``countDistinct`` so the expensive global dedup shuffle happens
    on the *reduced* data, not on the full fact table.

    ``part_keys`` (r14) — when the caller already knows the exact part-key
    universe it cares about (e.g. the ingest batch's interest tokens), the
    integer list lands as an ``In(l_partkey, ...)`` predicate ON THE SCAN
    (PushedFilters; guide §6 — a post-join semi filter on the derived
    string column cannot reach parquet), so the fact join runs over the
    matching sliver instead of the whole lineitem table.
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if part_keys is not None:
        lineitem = lineitem.filter(F.col("l_partkey").isin(part_keys))
    return orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
        F.col("o_custkey").cast("long").alias("id"),
        F.col("l_partkey").cast("string").alias("interest"),
    )


def customer_interest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, interest) DISTINCT pairs — the *exploded* form of the interests
    array.

    This is the 100 TB-safe representation: downstream overlap joins are
    equi-joins on the interest token instead of array-overlap nested loops
    (SURVEY.md §2.3 J2). Distinct (custkey, partkey) after the fact join.
    """
    return customer_interest_pairs_raw(spark, sf_dir).distinct()


def interest_pairs_for(
    spark: SparkSession, sf_dir: str, ids: DataFrame
) -> DataFrame:
    """(id, interest) distinct pairs for a SMALL node-id set, scan-only.

    For name-resolved point queries the id is dynamic, so Catalyst cannot
    constant-fold it into the fact scans the way it does for literal-id
    lookups (point_lookup's plan shows ``EqualTo(o_custkey, 42)`` pushed
    into the orders scan). This helper restores the point-query shape at
    plan level: broadcast the id set into orders (hash semi-probe, no
    orders shuffle), broadcast the surviving order keys into lineitem —
    the fact tables are scanned but never shuffled, and the distinct runs
    on the ~tens of surviving rows. ``ids`` must be a DataFrame with one
    column ``id`` and a handful of rows (it is broadcast twice).
    """
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    my_orders = orders.join(
        F.broadcast(ids), orders.o_custkey == ids.id
    ).select("o_orderkey", "o_custkey")
    return (
        lineitem.join(
            F.broadcast(my_orders), lineitem.l_orderkey == F.col("o_orderkey")
        )
        .select(
            F.col("o_custkey").cast("long").alias("id"),
            F.col("l_partkey").cast("string").alias("interest"),
        )
        .distinct()
    )


def customer_interests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, interests: array<string>) — the reference's array representation."""
    return (
        customer_interest_pairs(spark, sf_dir)
        .groupBy("id")
        .agg(F.collect_set("interest").alias("interests"))
    )


# DuckDB mirror of customer_interest_pairs().
CUST_PARTS_CTE = """
cust_parts AS (
    SELECT DISTINCT o_custkey AS id, CAST(l_partkey AS VARCHAR) AS interest
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
"""


def full_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nodes with the interests array attached (left join: customers with no
    orders keep an empty array, matching coalesce(list,[]) at
    student_service.py:151-155)."""
    nodes = customer_nodes(spark, sf_dir)
    interests = customer_interests(spark, sf_dir)
    return nodes.join(interests, "id", "left").withColumn(
        "interests",
        F.coalesce(F.col("interests"), F.array().cast("array<string>")),
    )


def load_graph(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> PropertyGraph:
    """PropertyGraph over the testdata. Edges default to empty — derive them
    with :func:`graphdb_neo4j_spark.operators.edges.derive_all_edges`."""
    return PropertyGraph(
        nodes=full_nodes(spark, sf_dir),
        edges=edges if edges is not None else empty_edges(spark),
    )
