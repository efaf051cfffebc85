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

:func:`node_snapshot` persists that derivation once per source version, so
the service's reads (``api.GraphService``) and the node-table operators
(recommend, relationship, fuzzy search, point/name lookups) scan one
table instead of re-deriving it per request. ``customer_nodes`` and
``full_nodes`` stay the raw derivations for everything else.
"""

from __future__ import annotations

import hashlib
import os
import stat
from urllib.parse import unquote, urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from graphdb_neo4j_spark.graph import NODE_COLUMNS, PropertyGraph, empty_edges
from graphdb_neo4j_spark.llmdata.genstore import COMMITTED, GenStore, read_meta
from graphdb_neo4j_spark.session import driver_result_cap
from graphdb_neo4j_spark.sources.sink import write_nodes

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


def _customer_part_pairs(
    spark: SparkSession, sf_dir: str, part_keys: list[int] | None = None
) -> DataFrame:
    """(id, interest: long) pairs straight off the fact join, the interest
    being the part key itself — NOT deduplicated. Callers that key on the
    part key (connected components) take these and skip a string round
    trip; see :func:`customer_interest_pairs_raw` for ``part_keys``."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    lineitem = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    if part_keys is not None:
        lineitem = lineitem.filter(F.col("l_partkey").isin(part_keys))
    return orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey).select(
        F.col("o_custkey").cast("long").alias("id"),
        F.col("l_partkey").cast("long").alias("interest"),
    )


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
    pairs = _customer_part_pairs(spark, sf_dir, part_keys)
    return pairs.select("id", F.col("interest").cast("string").alias("interest"))


def customer_interest_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id, interest) DISTINCT pairs — the *exploded* form of the interests
    array.

    This is the 100 TB-safe representation: downstream overlap joins are
    equi-joins on the interest token instead of array-overlap nested loops
    (SURVEY.md §2.3 J2). Distinct (custkey, partkey) after the fact join.
    """
    return customer_interest_pairs_raw(spark, sf_dir).distinct()


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


# --- the persisted node snapshot ---------------------------------------------

SNAPSHOT_SOURCES = ("customer", "nation", "region", "orders", "lineitem")
NODE_SCHEMA = (
    "id BIGINT, name STRING, address STRING, college STRING, board STRING,"
    " stream STRING, interests ARRAY<STRING>"
)
# NODE_SCHEMA as Arrow: the snapshot's columns, read on the driver
ARROW_NODE_SCHEMA = pa.schema(
    [("id", pa.int64())]
    + [(c, pa.string()) for c in NODE_COLUMNS[1:-1]]
    + [("interests", pa.list_(pa.string()))]
)
SNAPSHOT_STORE = GenStore("node_snapshot", "_snapshot_meta.json", ("",))
# customer-table bytes per snapshot file (the file count scales with the
# source; small sources get one file)
SNAPSHOT_FILE_BYTES = 8 << 20


def _digest(obj: object) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def _snapshot_root(spark: SparkSession) -> str | None:
    """``<spark.sql.warehouse.dir>/node_snapshot`` as a local path, or None
    when the warehouse is not on the driver's file system."""
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if wh.scheme not in ("", "file"):
        return None
    return os.path.join(unquote(wh.path), "node_snapshot")


def snapshot_location(spark: SparkSession, sf_dir: str) -> tuple[str, str] | None:
    """(store dir, generation id) of ``sf_dir``'s node snapshot for the
    source files as they are now; None when there is no local warehouse or
    a source table cannot be stamped (a remote scheme, a missing table)."""
    root = _snapshot_root(spark)
    stamps = tuple(_file_stamp(f"{sf_dir}/{t}.parquet") for t in SNAPSHOT_SOURCES)
    if root is None or None in stamps:
        return None
    source = os.path.abspath(sf_dir)
    return os.path.join(root, _digest(source)), _digest((source, stamps, NODE_SCHEMA))


def _snapshot_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`full_nodes` in the snapshot's column order, interests sorted."""
    return full_nodes(spark, sf_dir).select(
        *NODE_COLUMNS[:-1], F.array_sort("interests").alias("interests")
    )


def _snapshot_generation(spark: SparkSession, sf_dir: str) -> str | None:
    """The committed generation dir of ``sf_dir``'s snapshot for the source
    files as they are now, built first when it is missing; None without a
    local warehouse or a stampable source (see :func:`node_snapshot`)."""
    loc = snapshot_location(spark, sf_dir)
    if loc is None:
        return None
    store, gen = loc
    gen_dir = os.path.join(store, f"generation={gen}")
    meta = read_meta(store, SNAPSHOT_STORE.meta_name)
    committed = os.path.exists(os.path.join(gen_dir, COMMITTED))
    if not (meta and gen in meta["active"] and committed):
        size = sum(e[2] for e in _file_stamp(f"{sf_dir}/customer.parquet"))
        rows = _snapshot_rows(spark, sf_dir)
        write_nodes(rows, gen_dir, files=1 + size // SNAPSHOT_FILE_BYTES)
        fresh = {"source": os.path.abspath(sf_dir), "generations": [], "active": []}
        SNAPSHOT_STORE.commit(store, fresh, gen)
        SNAPSHOT_STORE.sweep_orphans(store, {"active": [gen]})
    return gen_dir


def node_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The node table — :func:`full_nodes`' rows ``(id, name, address,
    college, board, stream, interests)`` — read from its persisted snapshot.

    The snapshot is one generation store (``llmdata/genstore``) per source
    dir under ``<spark.sql.warehouse.dir>/node_snapshot/``. A generation is
    keyed by the source path and the file stamps (:func:`_file_stamp`) of
    the five tables the nodes derive from, so a rewritten source table
    starts a new generation. The first read of a generation builds it: the
    rows are written range-partitioned by id (``sources.sink.write_nodes``),
    then the ``_COMMITTED`` marker and the atomic sidecar commit it, then
    the superseded generations of that source are swept. Only a committed
    active generation is read, with a fixed schema, so a read submits no
    Spark job. Builds are single-writer, like the other generation stores.
    Without a local warehouse or a stampable source this returns the raw
    derivation. :func:`node_snapshot_table` reads the same generation into
    the driver as one Arrow table when it fits there.
    """
    gen_dir = _snapshot_generation(spark, sf_dir)
    if gen_dir is None:
        return _snapshot_rows(spark, sf_dir)
    return spark.read.schema(NODE_SCHEMA).parquet(gen_dir)


# store dir -> (generation dir, its Arrow table, or None when the
# generation does not fit on the driver): the latest generation of each
# store only, its size rule decided once, when it is first read
_SNAPSHOT_TABLES: dict[str, tuple[str, pa.Table | None]] = {}


def node_snapshot_table(spark: SparkSession, sf_dir: str) -> pa.Table | None:
    """:func:`node_snapshot`'s committed generation as one Arrow table on
    the driver, read with ``pyarrow.parquet`` (no Spark job), or None.

    The generation is built first when it is missing, exactly as
    :func:`node_snapshot` does. It is served from Arrow only when its
    uncompressed bytes, summed from the parquet footers, fit in one collect
    (:func:`~graphdb_neo4j_spark.session.driver_result_cap`): the one
    switch between the driver and the Spark forms of a read. Both the
    decision and the table are kept per generation, for the latest
    generation of each store only, so a swept generation is never served.
    Without a local snapshot this is None.
    """
    gen_dir = _snapshot_generation(spark, sf_dir)
    if gen_dir is None:
        return None
    store = os.path.dirname(gen_dir)
    memo = _SNAPSHOT_TABLES.get(store)
    if memo is None or memo[0] != gen_dir:
        size = 0
        for f in os.listdir(gen_dir):
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                meta = pq.read_metadata(os.path.join(gen_dir, f))
                size += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
        cap = driver_result_cap(spark)
        fits = cap is None or size <= cap
        table = pq.read_table(gen_dir, schema=ARROW_NODE_SCHEMA) if fits else None
        memo = _SNAPSHOT_TABLES[store] = (gen_dir, table)
    return memo[1]


def load_graph(spark: SparkSession, sf_dir: str, edges: DataFrame | None = None) -> PropertyGraph:
    """PropertyGraph over the testdata. Edges default to empty — derive them
    with :func:`graphdb_neo4j_spark.operators.edges.derive_all_edges`."""
    return PropertyGraph(
        nodes=full_nodes(spark, sf_dir),
        edges=edges if edges is not None else empty_edges(spark),
    )
