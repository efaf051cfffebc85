"""Write path — node creation and incremental edge derivation (S3/S4),
plus the bulk-normalize (S6) and health-check (S8) operators.

Reference semantics:
- S4 ``save_student`` (/root/reference/fastapi/services/student_service.py:21-108):
  allocate id = MAX(id)+1, create the node (all strings lowercased at the
  route, student_routes.py:28-32), then MERGE the five derived edge types
  between the new node and every existing node (:62-106).
- S3 ``create_user`` (/root/reference/src/graphdb.py:32-40): bare 1-row
  node append.
- S6 ``sync_lowercase_students`` (student_service.py:201-220): bulk
  lowercase rewrite of every string property.
- S8 ``ping`` (student_service.py:192-199): RETURN 1 round-trip.

Spark shapes:
- id allocation (SURVEY.md §7.4-H2): the reference's per-row MAX(id)+1 is
  a read-modify-write race AND a serialization point; the batch form is
  ``max(id) + row_number() OVER (ORDER BY name)`` — one aggregate plus a
  window over the (small) ingest batch. Ids are dense per batch, not
  globally contiguous under concurrent writers (documented tolerance).
- incremental edges: the ingest batch is broadcast against the existing
  node table, so deriving edges for k new nodes scans the graph ONCE
  (k·N comparisons via hash lookup, no N² rebuild, no shuffle of the big
  side). New-vs-new pairs inside the batch fall out of the same join
  because the batch is unioned into the probe side first.
- MERGE: new ids cannot collide with existing edges by construction; for
  re-ingest idempotency compose with
  :func:`graphdb_neo4j_spark.operators.edges.merge_edges`.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.graph import (
    ATTRIBUTE_EDGE_TYPES,
    INTEREST_EDGE_TYPE,
    normalize_string,
    normalize_string_array,
)
from graphdb_neo4j_spark.sources.tpch import (
    CUST_PARTS_CTE,
    NODES_CTE,
    customer_interest_pairs_raw,
    customer_nodes,
    load_table,
)
from graphdb_neo4j_spark.session import materialize

# Deterministic demo ingest batch (mixed case / stray whitespace on purpose
# — the route-level lowercase invariant must normalize it). Interests are
# part keys that exist at every test SF.
DEMO_STUDENTS = [
    ("  Alice Example  ", "addr_5", "CANADA", "AMERICA", "BUILDING", ["42", "100"]),
    ("Bob Example", "addr_5", "india", "ASIA", "MACHINERY", ["7"]),
    ("Carol Example", "addr_9999", "canada", "america", "building", ["42"]),
]
DEMO_SCHEMA = (
    "name string, address string, college string, board string, stream string,"
    " interests array<string>"
)


# Largest interest-token universe pushed into the lineitem scan as an
# In() literal list: Catalyst In() planning and parquet filter pushdown
# degrade on ~10^5-element lists, so bigger batches read unpruned.
PART_KEY_PUSHDOWN_MAX = 1000


def normalize_batch(new_raw: DataFrame) -> DataFrame:
    """Route-level ingest normalization (student_routes.py:28-32): every
    string lowercased/trimmed, every interests element too."""
    return new_raw.select(
        normalize_string("name").alias("name"),
        normalize_string("address").alias("address"),
        normalize_string("college").alias("college"),
        normalize_string("board").alias("board"),
        normalize_string("stream").alias("stream"),
        normalize_string_array("interests").alias("interests"),
    )


def allocate_ids(nodes: DataFrame, batch: DataFrame) -> DataFrame:
    """H2 batch id allocation: base = COALESCE(MAX(id), 0) over the node
    table (one aggregate, A1), offset = row_number over the batch ordered
    by name (deterministic). The single-partition window is fine — it runs
    over the INGEST BATCH, not the graph."""
    base = nodes.groupBy().agg(
        F.coalesce(F.max("id"), F.lit(0)).alias("_base")
    )
    w = Window.orderBy("name")
    return (
        batch.withColumn("_rn", F.row_number().over(w))
        .crossJoin(F.broadcast(base))
        .select(
            (F.col("_base") + F.col("_rn")).cast("long").alias("id"),
            "name",
            "address",
            "college",
            "board",
            "stream",
            "interests",
        )
    )


def create_node(nodes: DataFrame, row_df: DataFrame) -> DataFrame:
    """S3 — bare node append (graphdb.py:32-40): union of a 1-row frame.
    The parquet sink form is ``row_df.write.mode('append')``."""
    return nodes.unionByName(row_df, allowMissingColumns=True)


def derive_edges_for_batch(
    existing_nodes: DataFrame,
    existing_interest_pairs: DataFrame,  # raw or distinct (id, interest) pairs
    new_nodes: DataFrame,
) -> DataFrame:
    """All derived edges incident to the ingest batch, canonical src < dst.

    The batch side is broadcast (it is k rows); the graph side streams
    through a hash join — the incremental analog of the reference's five
    MERGE statements per onboard (student_service.py:62-106)."""
    probe = existing_nodes.select("id", "name", "address", "college", "board", "stream").unionByName(
        new_nodes.select("id", "name", "address", "college", "board", "stream")
    )

    # ONE pass over the node table for all four attribute edge types: each
    # side explodes to (type, key) rows and the broadcast equi-join runs
    # on that composite key (per-type joins scanned the node table once
    # PER TYPE — audit: 15 scans for one ingest batch; at 100 TB that is
    # four redundant passes over the graph per onboard).
    def kv(df: DataFrame, id_alias: str) -> DataFrame:
        cells = F.array(
            *[
                F.struct(F.lit(t).alias("type"), F.col(a).alias("k"))
                for t, a in ATTRIBUTE_EDGE_TYPES.items()
            ]
        )
        return (
            df.select(F.col("id").alias(id_alias), F.explode(cells).alias("s"))
            .select(id_alias, F.col("s.type").alias("type"), F.col("s.k").alias("k"))
            .filter(F.col("k").isNotNull() & (F.col("k") != ""))
        )

    attr_all = (
        kv(probe, "p_id")
        .join(F.broadcast(kv(new_nodes, "n_id")), ["type", "k"])
        .filter(F.col("p_id") != F.col("n_id"))
        .select(
            F.least("p_id", "n_id").alias("src"),
            F.greatest("p_id", "n_id").alias("dst"),
            "type",
            F.lit(None).cast("array<string>").alias("common"),
        )
        .dropDuplicates(["src", "dst", "type"])  # new-new pairs arrive twice
    )
    attr = [attr_all]

    new_cp = new_nodes.select(
        "id", F.explode("interests").alias("interest")
    ).distinct()
    # Only tokens the batch actually carries can create SHARES_INTEREST
    # edges: semi-join the (possibly raw/duplicated) existing pairs down to
    # that tiny broadcast token set FIRST, then dedup the surviving sliver.
    # This keeps the global (id, interest) distinct — the one full-fact
    # shuffle in the old plan — out of the ingest path entirely.
    batch_tokens = new_cp.select("interest").distinct()
    existing_relevant = existing_interest_pairs.join(
        F.broadcast(batch_tokens), "interest", "left_semi"
    ).distinct()
    all_cp = existing_relevant.unionByName(new_cp)
    interest = (
        all_cp.withColumnRenamed("id", "p_id")
        .join(
            F.broadcast(new_cp.withColumnRenamed("id", "n_id")),
            "interest",
        )
        .filter(F.col("p_id") != F.col("n_id"))
        .select(
            F.least("p_id", "n_id").alias("src"),
            F.greatest("p_id", "n_id").alias("dst"),
            "interest",
        )
        .groupBy("src", "dst")
        .agg(F.array_sort(F.collect_set("interest")).alias("common"))
        .select("src", "dst", F.lit(INTEREST_EDGE_TYPE).alias("type"), "common")
    )
    return reduce(DataFrame.unionByName, attr + [interest])


def ingest_students(
    spark: SparkSession, sf_dir: str, new_raw: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """S4 end-to-end: normalize → allocate ids → append → derive the new
    edges. Returns (nodes_after, new_edges)."""
    nodes = customer_nodes(spark, sf_dir)
    # The id-allocated batch is k rows but its lineage embeds the
    # MAX(id) scan over the graph — with the several consumers below
    # (probe union, broadcast side, interest explode), each
    # un-materialized use re-ran that scan (audit: 6 node-table scans
    # per onboard). The batch originated on the driver, so collapse it
    # back to a k-row literal: ONE max-id job, zero lineage, no
    # checkpoint barrier.
    allocated = allocate_ids(nodes, normalize_batch(new_raw))
    # Lineage cut: ONE bounded job decides the route AND fetches the
    # small-batch rows — take(ceiling+1) early-stops once it has enough
    # rows, so driver memory stays bounded (the r5 unconditional
    # collect() was silently unbounded) and interactive batches (the
    # reference's POST /students shape) pay a single job instead of the
    # r6 eager-checkpoint + count + collect triple. Small batches
    # collapse to a driver-side literal — zero lineage, no re-scan for
    # the several consumers below. Only genuinely large onboard batches
    # pay a second job to materialize on the executors (plain
    # localCheckpoint there trades recompute-on-executor-loss for the
    # lineage cut; a lost executor mid-onboard is the rerun-the-batch
    # case operationally anyway).
    _ROUNDTRIP_CEILING = 100_000
    head = allocated.take(_ROUNDTRIP_CEILING + 1)
    if len(head) <= _ROUNDTRIP_CEILING:
        batch = spark.createDataFrame(head, allocated.schema)
        # r14: the batch is ON THE DRIVER, so its interest-token universe
        # is known before any plan is built — push it into the lineitem
        # SCAN as an integer In() predicate (guide §6: the downstream
        # semi join on the derived string column filters after the fact
        # join; this prunes before it). Tokens that are not integer part
        # keys can never equal cast(l_partkey as string), so dropping
        # them reads nothing the semi join would have kept. Past
        # PART_KEY_PUSHDOWN_MAX keys the literal list costs more than it
        # prunes, and the scan stays unpruned.
        toks = sorted({t for r in head for t in (r["interests"] or [])})
        pk = [int(t) for t in toks if t.isdigit()]
        existing_pairs = customer_interest_pairs_raw(
            spark, sf_dir, part_keys=pk if len(pk) <= PART_KEY_PUSHDOWN_MAX else None
        )
    else:
        batch = allocated.transform(materialize, eager=True)
        existing_pairs = customer_interest_pairs_raw(spark, sf_dir)
    nodes_after = nodes.unionByName(batch.drop("interests"))
    new_edges = derive_edges_for_batch(nodes, existing_pairs, batch)
    return nodes_after, new_edges


# --- registered query forms + oracles --------------------------------------


def q_ingest_students(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-ingest verification: per-type count of the NEW edges created by
    onboarding the demo batch (every edge type exercised; zero-count types
    kept so the row set is schema-stable)."""
    new_raw = spark.createDataFrame(DEMO_STUDENTS, DEMO_SCHEMA)
    _, new_edges = ingest_students(spark, sf_dir, new_raw)
    counted = new_edges.groupBy("type").agg(F.count("*").alias("n_edges"))
    types = spark.createDataFrame(
        [(t,) for t in [*ATTRIBUTE_EDGE_TYPES, INTEREST_EDGE_TYPE]], "type string"
    )
    return types.join(counted, "type", "left").select(
        "type", F.coalesce("n_edges", F.lit(0)).alias("n_edges")
    )


def _demo_values_sql() -> tuple[str, str]:
    rows = ", ".join(
        f"('{n.strip().lower()}', '{a}', '{c.lower()}', '{b.lower()}', '{s.lower()}', {i})"
        for i, (n, a, c, b, s, _) in enumerate(DEMO_STUDENTS, start=1)
    )
    parts = ", ".join(
        f"({i}, '{tok}')"
        for i, (_, _, _, _, _, toks) in enumerate(DEMO_STUDENTS, start=1)
        for tok in toks
    )
    return rows, parts


def ingest_students_sql() -> str:
    rows, parts = _demo_values_sql()
    return f"""
WITH base_{NODES_CTE.strip()},
base_{CUST_PARTS_CTE.strip()},
maxid AS (SELECT COALESCE(MAX(id), 0) AS m FROM base_nodes),
new_raw(name, address, college, board, stream, rn) AS (VALUES {rows}),
new_nodes AS (
    SELECT m + rn AS id, name, address, college, board, stream
    FROM new_raw, maxid
),
new_parts_raw(rn, interest) AS (VALUES {parts}),
new_cp AS (SELECT DISTINCT m + rn AS id, interest FROM new_parts_raw, maxid),
nodes AS (SELECT * FROM base_nodes UNION ALL SELECT * FROM new_nodes),
cust_parts AS (SELECT * FROM base_cust_parts UNION ALL SELECT * FROM new_cp),
new_ids AS (SELECT id FROM new_nodes),
new_edges AS (
    SELECT 'SAME_COLLEGE' AS type, a.id AS src, b.id AS dst
    FROM nodes a JOIN nodes b ON a.college = b.college AND a.id < b.id
    WHERE a.college <> '' AND (a.id IN (SELECT id FROM new_ids) OR b.id IN (SELECT id FROM new_ids))
    UNION ALL
    SELECT 'SAME_BOARD', a.id, b.id
    FROM nodes a JOIN nodes b ON a.board = b.board AND a.id < b.id
    WHERE a.board <> '' AND (a.id IN (SELECT id FROM new_ids) OR b.id IN (SELECT id FROM new_ids))
    UNION ALL
    SELECT 'SAME_STREAM', a.id, b.id
    FROM nodes a JOIN nodes b ON a.stream = b.stream AND a.id < b.id
    WHERE a.stream <> '' AND (a.id IN (SELECT id FROM new_ids) OR b.id IN (SELECT id FROM new_ids))
    UNION ALL
    SELECT 'NEARBY', a.id, b.id
    FROM nodes a JOIN nodes b ON a.address = b.address AND a.id < b.id
    WHERE a.address <> '' AND (a.id IN (SELECT id FROM new_ids) OR b.id IN (SELECT id FROM new_ids))
    UNION ALL
    SELECT 'SHARES_INTEREST', p1.id, p2.id
    FROM cust_parts p1 JOIN cust_parts p2
      ON p1.interest = p2.interest AND p1.id < p2.id
    WHERE (p1.id IN (SELECT id FROM new_ids) OR p2.id IN (SELECT id FROM new_ids))
    GROUP BY p1.id, p2.id
),
counts AS (SELECT type, COUNT(*) AS n_edges FROM new_edges GROUP BY type)
SELECT t.type, COALESCE(c.n_edges, 0) AS n_edges
FROM (VALUES ('SAME_COLLEGE'), ('SAME_BOARD'), ('SAME_STREAM'), ('NEARBY'),
             ('SHARES_INTEREST')) AS t(type)
LEFT JOIN counts c ON c.type = t.type
"""


def q_normalized_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 — bulk lowercase/trim over RAW store values (the testdata's
    unprojected customer strings stand in for a store whose invariant
    drifted, the exact situation sync_lowercase_students repairs)."""
    customer = load_table(spark, sf_dir, "customer")
    raw = customer.select(
        F.col("c_custkey").cast("long").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_mktsegment").alias("stream"),
    )
    return raw.select(
        "id",
        normalize_string("name").alias("name"),
        normalize_string("stream").alias("stream"),
    )


NORMALIZED_NODES_SQL = """
SELECT c_custkey AS id,
       lower(trim(COALESCE(c_name, ''))) AS name,
       lower(trim(COALESCE(c_mktsegment, ''))) AS stream
FROM customer
"""


def q_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 — RETURN 1 round-trip (ping, student_service.py:192-199)."""
    return spark.range(1).select((F.col("id") + 1).cast("long").alias("ok"))


HEALTH_SQL = "SELECT CAST(1 AS BIGINT) AS ok"


def q_create_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 — bare single-node create + echo (graphdb.py:32-40): allocate the
    next id, union the row in, return it (the reference echoes the created
    node's properties back)."""
    nodes = customer_nodes(spark, sf_dir)
    batch = allocate_ids(
        nodes,
        normalize_batch(
            spark.createDataFrame(
                [("  Demo User  ", "addr_0", "", "", "", [])], DEMO_SCHEMA
            )
        ),
    ).drop("interests")
    return create_node(nodes, batch).join(
        F.broadcast(batch.select(F.col("id").alias("new_id"))),
        F.col("id") == F.col("new_id"),
    ).select("id", "name", "address", "college", "board", "stream")


CREATE_USER_SQL = f"""
WITH {NODES_CTE.strip()}
SELECT COALESCE(MAX(id), 0) + 1 AS id,
       'demo user' AS name, 'addr_0' AS address,
       '' AS college, '' AS board, '' AS stream
FROM nodes
"""
