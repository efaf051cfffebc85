"""Whole-graph analytics over the derived property graph: degree
statistics and PageRank — the batch graph-algorithm family a GraphX-style
relational encoding supports (SURVEY.md §2 notes the reference has no
whole-graph analytics beyond the edge backfill; these are the designated
extensions, same family as BFS/connected-components).

Scale shapes:

- **Degree stats never materialize pairs.** For an attribute edge type
  (equal non-null key ⇒ clique per key), degree(node) = |key group| − 1 —
  one tiny per-key aggregation joined back, exactly the Σ_key C(n,2)
  discipline `edge_counts_by_type` uses (operators/edges.py:146). Only
  SHARES_INTEREST counts distinct partners through the token equi-join
  (work Σ_tok df² — bounded by the token-df cap at ingest), never an
  array-overlap nested loop.
- **PageRank is the standard iterative DataFrame loop**: contributions =
  ranks/degree joined to the edge list, one shuffle per iteration on the
  grouping key, `localCheckpoint` per round to truncate lineage (the BFS
  / connected-components discipline, operators/paths.py). Undirected
  edges contribute both ways; isolated nodes hold the teleport floor.
  Personalized PageRank is the same recurrence with the teleport vector
  pinned to the seeds, so each form takes ``seed_ids`` rather than
  having a seeded twin. The driver oracle is a fixed-iteration unrolled
  CTE chain (:func:`pagerank_sql` — deterministic, rounded to 6
  decimals, 9 when seeded); pytest additionally pins closed-form graphs
  (star, cycle) and the Σranks = N invariant.
- **Clique-factored PageRank iterates on classes, not nodes.** On the
  SAME_COLLEGE ∪ SAME_BOARD graph every node of an (a, b) attribute pair
  has the same degree and rank, so :func:`pagerank_clique_factored`
  iterates on the (a, b) class table (PPR seeds are classes of their
  own): one Arrow collect of that table,
  every round in numpy on the driver at O(|A|·|B|) a round, one broadcast
  join back to the N nodes at the end.
- **Connected components pick their plan from the input's size.**
  Min-label propagation runs on the node↔group incidence, built once
  with long group keys. When node ids and incidence fit one collect
  (rows × 16 B ≤ ``spark.driver.maxResultSize``) the same update runs
  in numpy on the driver after one Arrow collect, as segment reductions
  over the incidence in compressed-sparse-row form (:class:`_Incidence`);
  above that, each round joins the incidence in place against broadcast
  label and group tables and shuffles only the combined messages,
  O(|groups| + |nodes|) per partition (:func:`min_label_components`).
- **The registry's components and lumped PageRank read the node
  snapshot when it is on the driver.** When
  :func:`~graphdb_neo4j_spark.sources.tpch.node_snapshot_table` holds
  the snapshot generation as Arrow — the switch ``api.GraphService``
  reads by — :func:`q_graph_components`, :func:`q_pagerank_factored`
  and :func:`q_pagerank_ppr` take their classes and incidence from its
  columns and run the same numpy cores as the Spark forms' driver paths
  (:func:`_min_labels`, :func:`_class_ranks`): 0 Spark jobs, and an
  Arrow-built local DataFrame as the result. The generation is
  immutable, so the components' CSR incidence is built by the first
  components call on it and kept with it
  (:func:`~graphdb_neo4j_spark.sources.tpch.snapshot_derived`); each
  call then runs only the rounds. The lumped ranks are rounded HALF_UP
  in numpy once per class, before they reach the nodes, on both paths.
  When the table is None (the generation is above
  ``spark.driver.maxResultSize``, or there is no local snapshot) they
  run the Spark forms above over the raw derivation.
"""

from __future__ import annotations

from functools import reduce
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.functions.fuzz import round_half_up
from graphdb_neo4j_spark.graph import ATTRIBUTE_EDGE_TYPES
from graphdb_neo4j_spark.sources.tpch import (
    CUST_PARTS_CTE,
    NODES_CTE,
    _customer_part_pairs,
    customer_interest_pairs,
    customer_nodes,
    node_snapshot_table,
    snapshot_derived,
)
from graphdb_neo4j_spark.obs import job_label
from graphdb_neo4j_spark.session import driver_result_cap, materialize


def _attr_degrees(nodes: DataFrame, attr: str, out: str) -> DataFrame:
    """degree over one attribute edge type WITHOUT pair materialization:
    every node in a key group of size n has degree n − 1.

    The per-key sizes table is DIMENSION-bounded (college = 25 nations,
    board = 5 regions, stream = 5 segments, address = ~20 acctbal/500
    buckets — attribute cardinality, not corpus size), so the join-back
    is an explicit broadcast: without the hint the lazy-checkpointed
    node table has no size statistics and Catalyst planned a full
    sort-merge join (2 exchanges + 2 sorts of node-sized data) per
    attribute (r13 plan audit; guide §3.1)."""
    valid = nodes.filter(F.col(attr).isNotNull() & (F.col(attr) != "")).select(
        "id", F.col(attr).alias("k")
    )
    sizes = valid.groupBy("k").agg((F.count("*") - 1).alias(out))
    return valid.join(F.broadcast(sizes), "k").select("id", out)


def _interest_degrees(pairs: DataFrame, out: str = "shares_interest_deg") -> DataFrame:
    """distinct-partner count through the token equi-join (J2 shape).

    r11 rewrite (the a<b halving the checksum bench consumer exposed —
    count() had been join-eliminating this whole subtree, PLANS.md
    round-11): the token join emits Σ_tok df² candidate rows either way,
    but keeping only a<b halves what enters the distinct machinery; the
    distinct UNDIRECTED pair set then explodes back to both directions
    (2 rows per pair, pair-set-sized) for a plain per-node count.
    Degree(a) counts each distinct partner once by construction —
    identical output to the old per-direction count_distinct, measured
    −28% min interleaved at sf0.1 (4.84 → 3.50 s)."""
    a = pairs.select(F.col("id").alias("a"), "interest")
    b = pairs.select(F.col("id").alias("b"), "interest")
    und = (
        a.join(b, "interest")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    return (
        und.select(F.explode(F.array("a", "b")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias(out))
    )


def q_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node degree for every derived edge type + total degree —
    the graph's structural profile in one pass family.

    The node table feeds ELEVEN consumers (4× valid+sizes pairs, the
    spine, 5 join-backs); un-materialized, the executed plan re-ran the
    customer⋈nation⋈region normalize pipeline 31 times (r11 audit —
    invisible under the old count() bench consumer, which
    join-eliminated every degree subtree). One lazy localCheckpoint
    cuts that to ~4 source scans; wall parity at sf0.1 (interleaved
    6.82 vs 6.52 s min — the scans are cheap at 15k rows) but at scale
    30 redundant passes over the node pipeline is the difference, the
    merge_bucketed structural-win-at-parity precedent."""
    nodes = customer_nodes(spark, sf_dir).transform(materialize)
    cols = {etype.lower() + "_deg": attr for etype, attr in ATTRIBUTE_EDGE_TYPES.items()}
    deg_cols = list(cols) + ["shares_interest_deg"]
    # pairs lazily checkpointed: the token equi-join consumes it on BOTH
    # sides — un-materialized, the orders⋈lineitem fact join + distinct
    # ran twice (the node_similarity r13 fix, guide §2.4)
    parts = [
        _attr_degrees(nodes, attr, out) for out, attr in cols.items()
    ] + [
        _interest_degrees(
            customer_interest_pairs(spark, sf_dir).transform(materialize)
        )
    ]
    # r13: assemble via union + ONE groupBy(id) instead of five successive
    # LEFT joins on id — the join form moved node-sized data through ~13
    # exchanges+sorts (every join side shuffled; the checkpointed spine
    # has no stats, so Catalyst chose SMJ each time); the stacked form
    # moves the same skinny (id, tag, deg) rows through ONE exchange with
    # map-side partial aggregation (guide §2.3 "aggregate before you
    # shuffle", §2.4 "remove shuffles outright"). The spine branch keeps
    # every node present (zero degrees) exactly like the old left joins.
    tagged = [
        p.select("id", F.lit(c).alias("t"), F.col(c).cast("long").alias("deg"))
        for p, c in zip(parts, deg_cols)
    ]
    spine = nodes.select(
        "id", F.lit("spine").alias("t"), F.lit(0).cast("long").alias("deg")
    )
    stacked = reduce(DataFrame.unionByName, tagged + [spine])
    wide = stacked.groupBy("id").agg(
        *[
            F.coalesce(F.sum(F.when(F.col("t") == c, F.col("deg"))), F.lit(0))
            .cast("long")
            .alias(c)
            for c in deg_cols
        ]
    )
    total = reduce(lambda x, y: x + y, [F.col(c) for c in deg_cols])
    return wide.withColumn("total_deg", total.cast("long"))


DEGREE_STATS_SQL = f"""
WITH {NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
college_sz AS (SELECT college AS k, COUNT(*) - 1 AS d FROM nodes
               WHERE college IS NOT NULL AND college <> '' GROUP BY 1),
board_sz AS (SELECT board AS k, COUNT(*) - 1 AS d FROM nodes
             WHERE board IS NOT NULL AND board <> '' GROUP BY 1),
stream_sz AS (SELECT stream AS k, COUNT(*) - 1 AS d FROM nodes
              WHERE stream IS NOT NULL AND stream <> '' GROUP BY 1),
addr_sz AS (SELECT address AS k, COUNT(*) - 1 AS d FROM nodes
            WHERE address IS NOT NULL AND address <> '' GROUP BY 1),
int_deg AS (
    SELECT a.id, COUNT(DISTINCT b.id) AS d
    FROM cust_parts a JOIN cust_parts b
      ON a.interest = b.interest AND a.id <> b.id
    GROUP BY a.id
)
SELECT n.id,
       CAST(COALESCE(c.d, 0) AS BIGINT) AS same_college_deg,
       CAST(COALESCE(bd.d, 0) AS BIGINT) AS same_board_deg,
       CAST(COALESCE(s.d, 0) AS BIGINT) AS same_stream_deg,
       CAST(COALESCE(ad.d, 0) AS BIGINT) AS nearby_deg,
       CAST(COALESCE(i.d, 0) AS BIGINT) AS shares_interest_deg,
       CAST(COALESCE(c.d, 0) + COALESCE(bd.d, 0) + COALESCE(s.d, 0)
            + COALESCE(ad.d, 0) + COALESCE(i.d, 0) AS BIGINT) AS total_deg
FROM nodes n
LEFT JOIN college_sz c ON n.college = c.k
LEFT JOIN board_sz bd ON n.board = bd.k
LEFT JOIN stream_sz s ON n.stream = s.k
LEFT JOIN addr_sz ad ON n.address = ad.k
LEFT JOIN int_deg i ON n.id = i.id
"""


# --- PageRank ----------------------------------------------------------------

DAMPING = 0.85


def _undirected(edges: DataFrame) -> DataFrame:
    """(u, v) for each edge (src, dst) in both directions, once each."""
    return (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .unionByName(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .distinct()
    )


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    iterations: int = 10,
    damping: float = DAMPING,
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """(id, rank) after ``iterations`` rounds of damped PageRank on an
    UNDIRECTED edge list (src, dst): r' = (1−d)·e + d·W·r from r0 = e.

    Without ``seed_ids``, e ≡ 1 and Σrank = N. With them it is
    personalized PageRank — the Neo4j GDS ``pageRank`` with
    ``sourceNodes`` shape, the random-walk counterpart of the
    one-vs-all recommendation scorer (operators/recommend.py): e = 1/|S|
    on each distinct seed, so Σrank = 1 and rank measures proximity to
    the seed set. A node with no edges keeps (1−d)·e each round: the
    teleport floor, or 0 for an isolated non-seed.

    Each round: contribution = rank/degree pushed across each edge in
    both directions (one shuffle on the receiving id). Per-round
    ``localCheckpoint`` truncates the iterative lineage — without it
    round k replans a 2^k-deep DAG."""
    both = _undirected(edges)
    degrees = both.groupBy("u").agg(F.count("*").alias("deg"))
    # degree-annotated edge list is loop-INVARIANT: join it once and
    # checkpoint, so each iteration pays one join (ranks), not two
    with_deg = both.join(degrees, "u").transform(materialize)
    e = F.lit(1.0)
    if seed_ids is not None:
        share = 1.0 / len(set(seed_ids))
        e = F.when(F.col("id").isin(seed_ids), F.lit(share)).otherwise(F.lit(0.0))
    base = nodes.select("id", e.alias("e")).transform(materialize)
    ranks = base.select("id", F.col("e").alias("rank"))
    for _ in range(iterations):
        contribs = (
            with_deg.join(ranks.select(F.col("id").alias("u"), "rank"), "u")
            .groupBy(F.col("v").alias("id"))
            .agg(F.sum(F.col("rank") / F.col("deg")).alias("contrib"))
        )
        ranks = (
            base.join(contribs, "id", "left")
            .select(
                "id",
                (
                    F.lit(1.0 - damping) * F.col("e")
                    + F.lit(damping) * F.coalesce("contrib", F.lit(0.0))
                ).alias("rank"),
            )
            .transform(materialize)
        )
    return ranks


def _clique_attrs_nullsafe(nodes: DataFrame, attrs: tuple[str, str]) -> DataFrame:
    """NULL/'' attribute values form NO clique edges — the contract of
    ``derive_attribute_edges`` and every DuckDB oracle here
    (``IS NOT NULL AND <> ''``). The factored LPA computes over group
    equi-joins, where a NULL key silently DROPS the node and '' is a
    real group; map both to a per-node unique sentinel so the node
    survives as a singleton clique: n_attr = 1 → zero degree
    contribution, zero received mass from that attribute — exactly the
    edge-walk semantics for any node source (the shipped fixture has no
    NULL/'' attrs; this guards the general API)."""
    out = nodes
    for attr in attrs:
        col = F.col(attr)
        out = out.withColumn(
            attr,
            F.when(
                col.isNull() | (col == ""),
                F.concat(F.lit("\x00singleton:"), F.col("id").cast("string")),
            ).otherwise(col),
        )
    return out


def _pagerank_classes(
    nodes: DataFrame, attrs: tuple[str, str], seed_ids: list[int] | None = None
) -> tuple[DataFrame, list[str], DataFrame]:
    """(keyed nodes, class key columns, class table) for
    :func:`pagerank_clique_factored`. The key is (a, b), plus the node id for PPR
    seeds (each seed is its own class); NULL and '' fold into one "no
    clique" key per attribute, so there are at most (|A|+1)(|B|+1) +
    |seeds| classes. A class row is its key and member count ``k``."""
    keyed = nodes.select(
        "id",
        # NULL != '' is NULL, so both fold into the NULL "no clique" key
        *[F.when(F.col(x) != "", F.col(x)).alias(x) for x in attrs],
    )
    keys = list(attrs)
    if seed_ids is not None:
        keyed = keyed.withColumn("s", F.when(F.col("id").isin(seed_ids), F.col("id")))
        keys.append("s")
    return keyed, keys, keyed.groupBy(*keys).agg(F.count("*").alias("k"))


def _lumped_pagerank_arrow(
    table: pa.Table,
    attrs: tuple[str, str],
    iterations: int,
    damping: float,
    seed_ids: list[int] | None = None,
    decimals: int | None = None,
) -> pa.Table:
    """:func:`pagerank_clique_factored` over a node table held on the driver
    (``id`` and the two attribute columns): the class table is built in
    Arrow under the same key rules as :func:`_pagerank_classes`, the
    rounds are :func:`_class_ranks`, and each node takes its class's rank
    by class code. No Spark job."""
    ids = table.column("id")
    keys = {
        # NULL != '' is NULL, so both fold into the NULL "no clique" key
        x: pc.if_else(pc.not_equal(table.column(x), ""), table.column(x), None)
        for x in attrs
    }
    if seed_ids is not None:
        seeded = pc.is_in(ids, value_set=pa.array(seed_ids, ids.type))
        keys["s"] = pc.if_else(seeded, ids, None)
    keyed = pa.table(keys)
    rows = pa.StructArray.from_arrays(
        [c.combine_chunks() for c in keyed.columns], names=keyed.column_names
    )
    code = _dense_codes(pa.chunked_array([rows]))
    _, first, k = np.unique(code, return_index=True, return_counts=True)
    classes = keyed.take(first).append_column("k", pa.array(k))
    r = _class_ranks(classes, attrs, iterations, damping, seed_ids, decimals)
    return pa.table({"id": ids, "rank": r[code]})


def _class_ranks(
    table: pa.Table,
    attrs: tuple[str, str],
    iterations: int,
    damping: float,
    seed_ids: list[int] | None = None,
    decimals: int | None = None,
) -> np.ndarray:
    """The rank of each row of a class table (keys…, k) after
    ``iterations`` rounds, in numpy: nodes of one class share degree and
    starting rank, so they share the rank of every round. With c = r/deg
    and S_X the group sums of k·c over the classes sharing the attribute
    key X,

        r' = (1−d)·e + d·(S_A + S_B − S_AB − c)

    (e ≡ 1 for PageRank, 1/|S| on the seeded classes — key ``s`` set —
    for PPR), and the shared degree is the same sums of 1: deg = n_A +
    n_B − n_AB − 1. The "no clique" (NULL) key is no group, so there a
    sum is the member's own value. With ``decimals`` the ranks are
    rounded as Spark's ``round`` rounds a double (HALF_UP), once per
    class instead of once per node."""
    k = table.column("k").to_numpy().astype(np.float64)
    code_a, code_b = (_dense_codes(table.column(x)).astype(np.int64) for x in attrs)
    _, code_ab = np.unique(
        code_a * (code_b.max(initial=0) + 1) + code_b, return_inverse=True
    )
    no_a, no_b = (
        table.column(x).is_null().to_numpy(zero_copy_only=False) for x in attrs
    )
    groups = ((code_a, no_a), (code_b, no_b), (code_ab, no_a | no_b))

    def group_sums(x):
        return [
            np.where(no_group, x, np.bincount(codes, k * x)[codes])
            for codes, no_group in groups
        ]

    n_a, n_b, n_ab = group_sums(np.ones(len(k)))
    deg = n_a + n_b - n_ab - 1
    if seed_ids is None:
        e = np.ones(len(k))
    else:
        seeded = table.column("s").is_valid().to_numpy(zero_copy_only=False)
        e = np.where(seeded, 1.0 / len(set(seed_ids)), 0.0)
    r = e
    for _ in range(iterations):
        # deg 0 = isolated (no clique on either attribute): pushes nothing
        c = np.divide(r, deg, out=np.zeros(len(k)), where=deg > 0)
        s_a, s_b, s_ab = group_sums(c)
        r = (1.0 - damping) * e + damping * (s_a + s_b - s_ab - c)
    return r if decimals is None else round_half_up(r, decimals)


def pagerank_clique_factored(
    nodes: DataFrame,
    attrs: tuple[str, str] = ("college", "board"),
    iterations: int = 10,
    damping: float = DAMPING,
    seed_ids: list[int] | None = None,
    decimals: int | None = None,
) -> DataFrame:
    """PageRank (personalized with ``seed_ids``) on the union of two
    attribute-clique edge sets WITHOUT materializing a single edge, the
    ranks rounded HALF_UP to ``decimals`` when it is given.

    On this graph j is a neighbour of i iff they share attribute A or
    attribute B, so by inclusion–exclusion the received contribution is

        recv(i) = S_A(a_i) + S_B(b_i) − S_AB(a_i, b_i) − r_i/d_i

    where S_X(k) = Σ_{j in group k} r_j/d_j (the own-term subtracts once
    because [a_j=a_i] + [b_j=b_i] − [both] = 1 at j = i), and the degree
    is pure group arithmetic: d_i = n_A + n_B − n_AB − 1.

    Nodes sharing (a_i, b_i) keep equal ranks (each PPR seed is a class
    of its own), so the rounds run on the class table
    (:func:`_class_ranks`): O(|A|·|B| + |S|) per iteration instead of
    O(N), let alone the edge walk's O(E) = Θ(N²/k). The class table is
    tiny by construction, so it is collected once as Arrow (jobs labelled
    ``lumped_pagerank/classes``) and every round runs in numpy on the
    driver, no Spark job; one broadcast join maps the class ranks back to
    the nodes. A class table above ``spark.driver.maxResultSize``
    surfaces as Spark's own abort of that collect: such a table means the
    attributes barely factor, and the edge-walk :func:`pagerank` is the
    operator to run there. pytest pins exact agreement with
    :func:`pagerank`, seeded and not.
    """
    spark = nodes.sparkSession
    keyed, keys, cls = _pagerank_classes(nodes, attrs, seed_ids)
    with job_label(spark, "lumped_pagerank/classes"):
        table = cls.toArrow()
    r = _class_ranks(table, attrs, iterations, damping, seed_ids, decimals)
    ranks = spark.createDataFrame(
        pa.table({**{"_" + x: table.column(x) for x in keys}, "r": r})
    )
    on = [keyed[x].eqNullSafe(ranks["_" + x]) for x in keys]
    return keyed.join(F.broadcast(ranks), on).select(
        "id", F.col("r").alias("rank")
    )


# SAME_COLLEGE ∪ SAME_BOARD as directed (u, v) pairs, for the oracles of
# the PageRank and label-propagation queries
_CLIQUE_UNION_EDGES_CTE = """edges AS (
    SELECT a.id AS u, b.id AS v
    FROM nodes a JOIN nodes b ON a.college = b.college
    WHERE a.id <> b.id AND a.college IS NOT NULL AND a.college <> ''
    UNION
    SELECT a.id AS u, b.id AS v
    FROM nodes a JOIN nodes b ON a.board = b.board
    WHERE a.id <> b.id AND a.board IS NOT NULL AND a.board <> ''
)"""


def pagerank_sql(
    iterations: int = 5, damping: float = DAMPING, seed_id: int | None = None
) -> str:
    """DuckDB mirror of :func:`q_pagerank` (of :func:`q_pagerank_ppr` with
    ``seed_id``): the same SAME_COLLEGE ∪ SAME_BOARD undirected edge set
    and the same damped update, unrolled to a fixed ``iterations`` CTE
    chain (deterministic — no fixpoint test, exactly N rounds). Float
    literals use Python ``repr`` so the teleport constant is bit-identical
    to Spark's ``F.lit(1.0 - d)``; both sides round to 6 decimals (9 when
    seeded: the ranks live in [0, 1]), absorbing summation-order drift."""
    teleport = repr(1.0 - damping)
    d = repr(damping)
    r0, decimals = "CAST(1.0 AS DOUBLE)", 6
    if seed_id is not None:
        teleport += f" * (CASE WHEN n.id = {seed_id} THEN 1.0 ELSE 0.0 END)"
        r0 = (
            f"CASE WHEN id = {seed_id} THEN CAST(1.0 AS DOUBLE)"
            " ELSE CAST(0.0 AS DOUBLE) END"
        )
        decimals = 9
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""r{i} AS (
    SELECT n.id, {teleport} + {d} * COALESCE(s.contrib, 0.0) AS "rank"
    FROM nodes n
    LEFT JOIN (
        SELECT e.v AS id, SUM(r."rank" / d.deg) AS contrib
        FROM edges e
        JOIN r{i - 1} r ON e.u = r.id
        JOIN deg d ON e.u = d.u
        GROUP BY e.v
    ) s ON n.id = s.id
)"""
        )
    chain = ",\n".join(iters)
    return f"""
WITH {NODES_CTE.strip()},
{_CLIQUE_UNION_EDGES_CTE},
deg AS (SELECT u, COUNT(*) AS deg FROM edges GROUP BY u),
r0 AS (SELECT id, {r0} AS "rank" FROM nodes),
{chain}
SELECT id, ROUND("rank", {decimals}) AS "rank" FROM r{iterations}
"""


def q_pagerank(spark: SparkSession, sf_dir: str, iterations: int = 5) -> DataFrame:
    """PageRank over the SAME_COLLEGE ∪ SAME_BOARD graph (the two clique
    families give meaningful rank spread), rounded for stable comparison.

    This is the EDGE-WALK exactness baseline (same disposition as
    ``semantic_dedup``/``cosine_neardup``): it materializes the Θ(N²/k)
    clique edges the DuckDB oracle mirrors, so its cost is quadratic in
    attribute-group size by construction — the r7 full-registry 10×
    sweep measured it accordingly. The scale path is
    :func:`q_pagerank_factored` (O(|A|·|B|)/iteration on the attribute
    class table, identical ranks, pytest-pinned + its own registry row);
    at 100 TB run THAT."""
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges

    nodes = customer_nodes(spark, sf_dir)
    edges = derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "board", "SAME_BOARD")
    ).select("src", "dst")
    return pagerank(nodes, edges, iterations=iterations).select(
        "id", F.round("rank", 6).alias("rank")
    )


def q_pagerank_factored(
    spark: SparkSession, sf_dir: str, iterations: int = 5
) -> DataFrame:
    """Clique-factored PageRank over the same SAME_COLLEGE ∪ SAME_BOARD
    graph as :func:`q_pagerank` — identical answers: the college × board
    class table, its rounds on the driver at O(|A|·|B|) each, and each
    node mapped to its class's rank, rounded to 6 decimals per class
    (:func:`_q_lumped_ranks`). On the snapshot's Arrow generation that
    starts no Spark job and the result is a bare local relation; on the
    Spark path it is one O(N) aggregation to the class table, its collect
    and one O(N) join-back (8 jobs at sf0.1)."""
    return _q_lumped_ranks(spark, sf_dir, iterations, 6)


def _q_lumped_ranks(
    spark: SparkSession,
    sf_dir: str,
    iterations: int,
    decimals: int,
    seed_ids: list[int] | None = None,
) -> DataFrame:
    """(id, rank) of the lumped PageRank (PPR with ``seed_ids``) over
    ``sf_dir``'s college × board classes, each class rank rounded HALF_UP
    to ``decimals`` in numpy before it is mapped to the nodes — Spark's
    ``round`` of a double, computed once per class: from the node
    snapshot's Arrow generation when :func:`node_snapshot_table` holds it
    on the driver (an Arrow-built local DataFrame, no Spark job), else the
    Spark form over :func:`customer_nodes`, whose broadcast join-back
    carries the rounded class ranks."""
    attrs = ("college", "board")
    table = node_snapshot_table(spark, sf_dir)
    if table is None:
        return pagerank_clique_factored(
            customer_nodes(spark, sf_dir), attrs, iterations, DAMPING, seed_ids,
            decimals,
        )
    return spark.createDataFrame(
        _lumped_pagerank_arrow(table, attrs, iterations, DAMPING, seed_ids, decimals)
    )


PPR_SEED_ID = 1  # same anchor as the recommend_people flagship


def q_pagerank_ppr(
    spark: SparkSession, sf_dir: str, seed_id: int = PPR_SEED_ID, iterations: int = 5
) -> DataFrame:
    """Personalized PageRank from the flagship anchor over the same
    SAME_COLLEGE ∪ SAME_BOARD graph as :func:`q_pagerank` — "who is close
    to this person by random walk", the graph-native recommendation
    ranking. Rounded to 9 decimals (values live in [0, 1], drift ≪ 1e-12).
    Runs the clique-factored form (O(|A|·|B|)/iteration on the college ×
    board classes plus the seed's own class — the 100 TB path; the
    seeded edge-walk :func:`pagerank` is the pytest cross-check, and the
    driver oracle walks the edges in DuckDB), from the snapshot's Arrow
    generation with no Spark job when it is on the driver, else as the
    Spark form (:func:`_q_lumped_ranks`, which also rounds, once per
    class)."""
    return _q_lumped_ranks(spark, sf_dir, iterations, 9, [seed_id])


# --- label propagation community detection ------------------------------------


def label_propagation(
    nodes: DataFrame, edges: DataFrame, iterations: int = 4
) -> DataFrame:
    """(id, label) after ``iterations`` rounds of SYNCHRONOUS label
    propagation on an undirected edge list — the Neo4j GDS
    ``labelPropagation`` shape, made fully deterministic: every node
    simultaneously adopts the most frequent label among its neighbors,
    ties broken by the SMALLEST label, isolated nodes keep their own.

    Determinism is the design choice that makes the operator
    driver-checkable: the textbook async/random-order LPA is
    run-dependent, while the synchronous + (count DESC, label ASC)
    tie-break variant is a pure function of (graph, iterations) — the
    same fixed-iteration discipline as :func:`pagerank_sql` (the
    known cost is that sync LPA can oscillate on bipartite structures,
    which a fixed iteration count simply truncates). Per round: ONE
    shuffle for the (node, label) count aggregation, argmax via a
    struct-max (no window, no second shuffle), per-round
    ``localCheckpoint`` truncates lineage.
    """
    both = _undirected(edges).transform(materialize)
    labels = nodes.select("id", F.col("id").alias("label")).transform(materialize)
    for _ in range(iterations):
        cnt = (
            both.join(labels.select(F.col("id").alias("u"), "label"), "u")
            .groupBy(F.col("v").alias("id"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        # argmax by (cnt DESC, label ASC) as one struct-max: structs compare
        # lexicographically, so max((cnt, -label)) is the deterministic winner
        best = (
            cnt.groupBy("id")
            .agg(
                F.max(
                    F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
                ).alias("m")
            )
            .select("id", (-F.col("m.nl")).alias("best"))
        )
        labels = (
            labels.join(best, "id", "left")
            .select("id", F.coalesce("best", "label").alias("label"))
            .transform(materialize)
        )
    return labels


def label_propagation_clique_factored(
    nodes: DataFrame,
    attrs: tuple[str, str] = ("college", "board"),
    iterations: int = 4,
) -> DataFrame:
    """Synchronous LPA on the two-attribute clique-union graph WITHOUT
    materializing an edge — the :func:`pagerank_clique_factored`
    discipline applied to label counting.

    For node i with groups (a_i, b_i), the neighbor count of label ℓ is
    pure group arithmetic by inclusion–exclusion:

        cnt_i(ℓ) = C_A(a_i, ℓ) + C_B(b_i, ℓ) − C_AB(a_i, b_i, ℓ) − [ℓ = ℓ_i]

    and crucially cnt_i(·) depends on i ONLY through (a_i, b_i, ℓ_i): the
    whole argmax can be computed once per (A, B) PAIR, not per node. Each
    iteration builds the three label-count tables (|A|·L, |B|·L,
    |A×B|·L keys — L collapses toward the community count after round 1),
    takes the per-pair TOP-2 labels by (cnt DESC, label ASC), and each
    node picks top-1 unless its own label IS top-1 and loses after the
    −1 self-correction, in which case top-2 (no deeper rank can win:
    only the own label's count changes, by exactly 1). Work per round is
    O(N + pairs·L) — at 100 TB the difference between a runnable query
    and a Θ(N²/k)-edge walk; pytest pins exact agreement with
    :func:`label_propagation`, and the DuckDB oracle still walks edges.
    """
    from pyspark.sql.window import Window

    a, b = attrs
    base = (
        _clique_attrs_nullsafe(nodes, attrs)
        .select("id", a, b)
        .transform(materialize)
    )
    pairs = base.select(a, b).distinct().transform(materialize)
    labels = base.withColumn("label", F.col("id"))
    for _ in range(iterations):
        # NOTE (r14): a rolled-up variant (C_A = Σ_b C_AB from one
        # groupBy(a, b, label) pass — the pagerank_clique_factored r14
        # regroup) was built and ABBA-A/B'd at 1.20×: unlike pagerank's
        # (a, b) pair sums, the LPA intermediate carries the LABEL
        # dimension, so the pair-level count table is ~N rows until the
        # labels converge and the rollup ADDS a node-sized pass instead
        # of removing one. The three direct aggregations (smaller key
        # spaces, effective map-side partials) are the measured-faster
        # form at every scale where labels ≫ |A×B|.
        ca = labels.groupBy(a, "label").agg(F.count("*").alias("c"))
        cb = labels.groupBy(b, "label").agg(F.count("*").alias("c"))
        cab = labels.groupBy(a, b, "label").agg((-F.count("*")).alias("c"))
        cnt = (
            pairs.join(ca, a)
            .select(a, b, "label", "c")
            .unionByName(pairs.join(cb, b).select(a, b, "label", "c"))
            .unionByName(cab.select(a, b, "label", "c"))
            .groupBy(a, b, "label")
            .agg(F.sum("c").alias("cnt"))
        )
        w = Window.partitionBy(a, b).orderBy(F.desc("cnt"), F.asc("label"))
        tops = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 2)
            .groupBy(a, b)
            .agg(
                F.max(
                    F.when(F.col("rn") == 1, F.struct("cnt", "label"))
                ).alias("t1"),
                F.max(
                    F.when(F.col("rn") == 2, F.struct("cnt", "label"))
                ).alias("t2"),
            )
        )
        own_is_t1 = F.col("label") == F.col("t1.label")
        adj1 = F.col("t1.cnt") - F.when(own_is_t1, 1).otherwise(0)
        t2_wins = (
            own_is_t1
            & F.col("t2").isNotNull()
            & (
                (F.col("t2.cnt") > adj1)
                | (
                    (F.col("t2.cnt") == adj1)
                    & (F.col("t2.label") < F.col("t1.label"))
                )
            )
        )
        new_label = (
            F.when(t2_wins, F.col("t2.label"))
            # own == t1 and it survives the self-correction (adj1 ≥ 1:
            # other holders of the own label are real neighbors), or
            # adj1 == 0 with no runner-up: isolated → keep own
            .when(own_is_t1 & (adj1 == 0) & F.col("t2").isNull(), F.col("label"))
            .otherwise(F.col("t1.label"))
        )
        # no broadcast hint: the pair domain is |A×B| + one sentinel pair
        # per NULL/''-attr node, so on null-heavy corpora `tops` is O(N)
        # and a forced broadcast would OOM — let AQE broadcast it when it
        # measures small (the common case)
        labels = (
            labels.join(tops, [a, b], "left")
            .select(
                "id", a, b,
                F.coalesce(new_label, F.col("label")).alias("label"),
            )
            .transform(materialize)
        )
    return labels.select("id", "label")


def q_label_propagation(
    spark: SparkSession, sf_dir: str, iterations: int = 4
) -> DataFrame:
    """Community detection over the SAME_COLLEGE ∪ SAME_BOARD graph:
    (id, community, community_size), community = the propagated label.
    Runs the clique-factored form (O(N + pairs·labels)/iteration — the
    100 TB path; the edge-walk :func:`label_propagation` is the pytest
    cross-check, and the driver oracle walks the edges in DuckDB)."""
    nodes = customer_nodes(spark, sf_dir)
    labels = label_propagation_clique_factored(nodes, iterations=iterations)
    sizes = labels.groupBy("label").agg(F.count("*").alias("community_size"))
    return labels.join(sizes, "label").select(
        "id", F.col("label").alias("community"), "community_size"
    )


def label_propagation_sql(iterations: int = 4) -> str:
    """DuckDB mirror of :func:`q_label_propagation`: same edge set, same
    synchronous most-frequent-neighbor update with the same (count DESC,
    label ASC) tie-break, unrolled to a fixed CTE chain."""
    iters = []
    for i in range(1, iterations + 1):
        iters.append(
            f"""l{i} AS (
    SELECT p.id, COALESCE(b.best, p.label) AS label
    FROM l{i - 1} p
    LEFT JOIN (
        SELECT v AS id, label AS best FROM (
            SELECT e.v, r.label, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (
                       PARTITION BY e.v
                       ORDER BY COUNT(*) DESC, r.label ASC
                   ) AS rn
            FROM edges e JOIN l{i - 1} r ON e.u = r.id
            GROUP BY e.v, r.label
        ) WHERE rn = 1
    ) b ON b.id = p.id
)"""
        )
    chain = ",\n".join(iters)
    return f"""
WITH {NODES_CTE.strip()},
{_CLIQUE_UNION_EDGES_CTE},
l0 AS (SELECT id, id AS label FROM nodes),
{chain}
SELECT l.id, l.label AS community, s.community_size
FROM l{iterations} l
JOIN (SELECT label, COUNT(*) AS community_size
      FROM l{iterations} GROUP BY label) s
  ON l.label = s.label
"""


# --- triangle counting -------------------------------------------------------


def q_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count on the SAME_COLLEGE graph.

    The attribute-edge graph is a disjoint union of cliques (everyone
    sharing a college is fully connected), so each node in a key group of
    size n closes exactly C(n−1, 2) = C(deg, 2) triangles — the count is
    a CLOSED FORM of the SAME_COLLEGE degree (:func:`_attr_degrees`: one
    tiny per-college aggregation joined back to nodes): O(N), no edge
    list, no wedge enumeration. The
    DuckDB oracle takes the opposite path — it materializes the edges and
    counts wedges that close via a genuine 3-way self-join — so the two
    engines agree through entirely different computations (the strongest
    kind of cross-check; same discipline as pagerank_factored vs its
    edge-walk twin).

    On a general (non-clique) graph this becomes the standard
    order-by-degree wedge join; the clique factoring is what the
    attribute-edge semantics make available, and at 100 TB it is the
    difference between O(N) and Σ C(n,2)·n wedge work.
    """
    deg = _attr_degrees(customer_nodes(spark, sf_dir), "college", "deg")
    tri = (F.col("deg") * (F.col("deg") - 1) / 2).cast("long")
    return deg.select("id", tri.alias("n_triangles"))


TRIANGLE_COUNTS_SQL = f"""
WITH {NODES_CTE.strip()},
e AS (
    SELECT a.id AS a, b.id AS b
    FROM nodes a JOIN nodes b
      ON a.college = b.college AND a.id <> b.id
    WHERE a.college IS NOT NULL AND a.college <> ''
),
tri AS (
    SELECT e1.a AS id, COUNT(*) AS n_triangles
    FROM e e1
    JOIN e e2 ON e1.a = e2.a AND e1.b < e2.b
    JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    GROUP BY e1.a
)
SELECT n.id, CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles
FROM nodes n LEFT JOIN tri t ON n.id = t.id
WHERE n.college IS NOT NULL AND n.college <> ''
"""


# --- node similarity (GDS nodeSimilarity analog) ------------------------------

NODE_SIM_CUTOFF = 0.05
NODE_SIM_TOPK = 5
NODE_SIM_MAX_DF = 1000  # hot-interest guard: work is Σ_interest df·(df−1)


def q_node_similarity(
    spark: SparkSession,
    sf_dir: str,
    cutoff: float = NODE_SIM_CUTOFF,
    k: int = NODE_SIM_TOPK,
    max_df: int = NODE_SIM_MAX_DF,
) -> DataFrame:
    """Graph-DS node similarity (the Neo4j GDS ``nodeSimilarity`` shape):
    for every node, its top-``k`` most-similar peers by Jaccard over the
    interest neighborhood, at or above ``cutoff``. The reference's graph
    model (students + SHARES_INTEREST edges,
    /root/reference/src/graph_queries.py) motivates the operator; the
    reference itself has no similarity ranking — this is the designated
    analytics extension over the same derived graph.

    Scale shape: the bipartite (node, interest) table joins to itself on
    the interest token — NEVER an array-overlap nested loop — so work is
    Σ_interest df·(df−1), bounded by dropping interests hotter than
    ``max_df`` (the dedup_jaccard hot-token discipline; a token shared by
    everyone carries no similarity signal and quadratic cost). The
    per-node top-k is one window over the (already cutoff-filtered) pair
    list, partitioned on the source node — no global sort. Neighborhood
    sizes ride along via two broadcast-size aggregate joins.
    """
    from pyspark.sql.window import Window

    # r13: lazy checkpoint — `pairs` (the orders⋈lineitem fact join +
    # distinct) feeds BOTH the hot-token aggregate and the anti-join
    # probe; un-materialized, the toks checkpoint job ran the fact join
    # twice (measured 1.15 s/pass at sf0.1, one redundant full fact pass
    # at scale; guide §2.4 — share one materialization between consumers)
    pairs = customer_interest_pairs(spark, sf_dir).transform(materialize)
    hot = pairs.groupBy("interest").agg(F.count("*").alias("df")).filter(
        F.col("df") > max_df
    )
    toks = pairs.join(F.broadcast(hot), "interest", "left_anti").transform(materialize, eager=True)
    sizes = toks.groupBy("id").agg(F.count("*").alias("sz"))
    a = toks.select(F.col("id").alias("a"), "interest")
    b = toks.select(F.col("id").alias("b"), "interest")
    # join one triangle only (a < b) — Jaccard is symmetric, so this halves
    # the pair volume through the shuffle+aggregate; the mirror happens
    # AFTER the cutoff filter, on the surviving sliver
    inter = (
        a.join(b, "interest")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    # sizes is one row per node — dimension-sized next to the pair list, so
    # both lookups broadcast (at a scale where nodes outgrow the broadcast
    # budget, annotate sz onto the token rows before the pair aggregation
    # instead of joining after)
    sim = (
        inter.join(
            F.broadcast(
                sizes.select(F.col("id").alias("a"), F.col("sz").alias("sa"))
            ),
            "a",
        )
        .join(
            F.broadcast(
                sizes.select(F.col("id").alias("b"), F.col("sz").alias("sb"))
            ),
            "b",
        )
        .withColumn(
            "j",
            F.col("n_inter").cast("double")
            / (F.col("sa") + F.col("sb") - F.col("n_inter")),
        )
        .filter(F.col("j") >= cutoff)
    )
    # materialize the sliver: a union's branches are planned independently,
    # so without this the mirror branch re-runs the whole pair pipeline
    sim = sim.select("a", "b", "j").transform(materialize, eager=True)
    both = sim.unionByName(
        sim.select(F.col("b").alias("a"), F.col("a").alias("b"), "j")
    )
    w = Window.partitionBy("a").orderBy(F.desc("j"), F.asc("b"))
    return (
        both.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("a").alias("id"),
            F.col("b").alias("nbr"),
            F.round("j", 6).alias("jaccard"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def node_similarity_sql(
    cutoff: float = NODE_SIM_CUTOFF,
    k: int = NODE_SIM_TOPK,
    max_df: int = NODE_SIM_MAX_DF,
) -> str:
    return f"""
WITH {CUST_PARTS_CTE.strip()},
hot AS (SELECT interest FROM cust_parts GROUP BY interest HAVING COUNT(*) > {max_df}),
toks AS (SELECT id, interest FROM cust_parts WHERE interest NOT IN (SELECT interest FROM hot)),
sizes AS (SELECT id, COUNT(*) AS sz FROM toks GROUP BY id),
inter AS (
    SELECT t1.id AS a, t2.id AS b, COUNT(*) AS n_inter
    FROM toks t1 JOIN toks t2 ON t1.interest = t2.interest AND t1.id <> t2.id
    GROUP BY t1.id, t2.id
),
sim AS (
    SELECT a, b, CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) AS j
    FROM inter JOIN sizes sa ON sa.id = a JOIN sizes sb ON sb.id = b
    WHERE CAST(n_inter AS DOUBLE) / (sa.sz + sb.sz - n_inter) >= {cutoff}
)
SELECT a AS id, b AS nbr, ROUND(j, 6) AS jaccard,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT a, b, j,
             ROW_NUMBER() OVER (PARTITION BY a ORDER BY j DESC, b ASC) AS rank
      FROM sim)
WHERE rank <= {k}
"""


# --- weakly connected components (factored, no clique materialization) --------

# Shared by q_graph_components AND graph_components_sql: the oracle is an
# exact unroll of the Spark loop, so both sides must run the same round
# count — one constant, two defaults (ADVICE r8).
COMPONENTS_MAX_ITERS = 20


def q_graph_components(
    spark: SparkSession, sf_dir: str, max_iterations: int = COMPONENTS_MAX_ITERS
) -> DataFrame:
    """(id, component, component_size) over the WHOLE derived people graph
    (all 4 attribute edge types + SHARES_INTEREST) — GDS ``wcc`` for the
    reference's graph model.

    Scale shape — the clique factoring carried to its logical end: an
    attribute edge type connects every pair inside a value group, so
    connectivity is IDENTICAL on the bipartite node↔group incidence
    (:func:`component_incidence`, one row per node per non-null attribute
    value / ordered part — O(N·attrs + |lineitem|), vs Σ C(n,2)
    materialized clique edges). Group keys are longs: the part key for
    interests, an exact negative key from each attribute group's least
    member for attribute values.

    When :func:`node_snapshot_table` holds the snapshot generation on the
    driver, the incidence is read off its columns into CSR form by the
    first call on that generation and kept with it; every call solves it
    in numpy by segment reductions (:func:`_snapshot_components`): 0 Spark
    jobs. Otherwise the Spark path runs: the incidence is built from the node
    table and orders ⋈ lineitem, and when node ids and incidence fit one
    collect (at sf0.1, 660,000 rows) :func:`min_label_components` solves
    them in one Arrow collect and numpy on the driver (7 Spark jobs, no
    checkpoint); a larger incidence takes the broadcast-in-place loop,
    built once and never shuffled inside the loop."""
    table = node_snapshot_table(spark, sf_dir)
    if table is not None:
        return spark.createDataFrame(_snapshot_components(table, max_iterations))
    nodes = customer_nodes(spark, sf_dir)
    inc = component_incidence(nodes, _customer_part_pairs(spark, sf_dir))
    return min_label_components(nodes.select("id"), inc, max_iterations)


def _snapshot_components(table: pa.Table, max_iterations: int) -> pa.Table:
    """:func:`q_graph_components` over the node snapshot held on the
    driver: :func:`_min_labels` over :func:`_snapshot_incidence`, built
    once per snapshot generation and kept with it
    (:func:`~graphdb_neo4j_spark.sources.tpch.snapshot_derived`)."""
    return _min_labels(snapshot_derived(table, _snapshot_incidence), max_iterations)


def _snapshot_incidence(table: pa.Table) -> _Incidence:
    """The incidence of :func:`component_incidence` read off the node
    snapshot's columns as dense codes: one group per (attribute ordinal,
    value), NULL and '' dropped, and one per token of ``interests`` (the
    snapshot's distinct part keys, so the same groups as the part
    keys)."""
    ids, node_pos = np.unique(table.column("id").to_numpy(), return_inverse=True)
    members, groups, n_groups = [], [], 0
    for attr in ATTRIBUTE_EDGE_TYPES.values():
        values = table.column(attr)
        # NULL != '' is NULL, so the fill drops both
        valid = pc.fill_null(pc.not_equal(values, ""), False)
        valid = valid.to_numpy(zero_copy_only=False)
        codes = _dense_codes(values)
        members.append(node_pos[valid])
        groups.append(codes[valid] + n_groups)
        n_groups += codes.max(initial=-1) + 1
    interests = table.column("interests")
    lengths = pc.fill_null(pc.list_value_length(interests), 0).to_numpy()
    members.append(np.repeat(node_pos, lengths))
    groups.append(_dense_codes(pc.list_flatten(interests)) + n_groups)
    return _incidence(
        ids,
        node_pos,
        np.concatenate(members),
        np.concatenate(groups),
        table.schema.field("id").type,
    )


def component_incidence(nodes: DataFrame, interest_pairs: DataFrame) -> DataFrame:
    """(id, gk: long) node↔group incidence: one row per node per non-NULL,
    non-'' attribute value, plus one per (id, interest) pair.

    All four attributes come from ONE pass over the node table (an in-row
    inline of (ordinal, value) cells). Each (attribute, value) group is
    named by its least member and the attribute's ordinal: gk = −(min id
    × 4 + ordinal) − 1, from one window over the cells. Two groups of one
    attribute have disjoint members, hence different least members, and
    two attributes differ in the ordinal, so the keys are exact — a
    college and a board with the same value stay two groups — and, for
    the non-negative customer keys, negative: disjoint from the
    (positive) part keys the interests keep as longs (string interests
    are cast; long ones, as :func:`q_graph_components` passes, are not).
    Interests are NOT deduplicated: the min-label update is idempotent,
    so duplicate rows change no label and the ``distinct`` shuffle is
    saved."""
    from pyspark.sql.window import Window

    attrs = list(ATTRIBUTE_EDGE_TYPES.values())
    cells = F.array(
        *[
            F.struct(F.lit(k).alias("a"), F.col(attr).alias("v"))
            for k, attr in enumerate(attrs)
        ]
    )
    # NULL != '' is NULL, so the filter drops both
    attr_cells = nodes.select("id", F.inline(cells)).filter(F.col("v") != "")
    least = F.min("id").over(Window.partitionBy("a", "v"))
    attr_inc = attr_cells.select(
        "id", (-(least * len(attrs) + F.col("a")) - 1).cast("long").alias("gk")
    )
    interest_inc = interest_pairs.select(
        "id", F.col("interest").cast("long").alias("gk")
    )
    return attr_inc.unionByName(interest_inc)


def _broadcast_fits(spark: SparkSession, rows: int, width: int) -> bool:
    """Whether ``rows`` rows of ``width`` bytes fit under
    ``spark.sql.autoBroadcastJoinThreshold`` (a negative threshold
    disables broadcasting) — the choice Catalyst makes from a plan's size
    estimate, taken here from an exact row count."""
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    return 0 <= rows * width <= limit


def _collect_row_cap(spark: SparkSession, width: int) -> int | None:
    """How many rows of ``width`` bytes one collect may bring to the
    driver: :func:`~graphdb_neo4j_spark.session.driver_result_cap` //
    width, or None when the cap is unlimited. rows fit in one collect iff
    rows × width ≤ ``spark.driver.maxResultSize``."""
    limit = driver_result_cap(spark)
    return None if limit is None else limit // width


def _broadcast_if(df: DataFrame, small: bool) -> DataFrame:
    return F.broadcast(df) if small else df


def min_label_components(
    node_ids: DataFrame, inc: DataFrame, max_iterations: int
) -> DataFrame:
    """Bipartite min-label propagation: ``node_ids`` = (id), ``inc`` =
    (id, gk) node↔group incidence → (id, component, component_size).

    The update is f(L)(v) = least(L(v), min over g∋v of glabel(g)) with
    glabel(g) = min member label, starting from L = id and applied at
    most ``max_iterations`` times — the recurrence
    :func:`min_label_components_sql` unrolls. Incidence rows whose id is
    not in ``node_ids`` are dropped, and so are rows with a NULL group key
    (they join no group). Group keys may be of any type.

    Two physical plans compute the same f^k; the size of the input picks
    one, and no option does:

    - **Driver path**, when (node rows + incidence rows) × 16 B ≤
      ``spark.driver.maxResultSize`` — the most one collect may bring to
      the driver, 0 meaning unlimited as in Spark
      (:func:`_collect_row_cap`). Node ids and incidence are collected
      in ONE Arrow collect of their union (node rows carry a NULL group
      key), f runs in numpy over dense node and group indices (group
      min, then node min) under the homogeneity stop below, and the
      result is an Arrow-built local DataFrame. Jobs: the collect's
      stages only, labelled ``min_label_components/collect``.
    - **Loop**, above that size: the broadcast-in-place loop, jobs
      labelled ``min_label_components/round=k`` (round 0 = the input
      and the initial homogeneity test).

    The size is known only once the collect has run, so the decision
    adds no pass over the inputs: no count, and no ``limit(cap + 1)``
    (a row is at least 16 B of Arrow, so cap + 1 rows always exceed
    ``spark.driver.maxResultSize`` and Spark aborts that collect). An
    oversized input shows up either as more than cap rows or as Spark's
    own abort of the collect; both take the loop, which then reads the
    inputs again.

    Both paths share the loop's reasoning:

    - **No incumbent join.** A node sits in each of its groups, so the
      min of its group labels already includes its own label: f(L)(v) =
      min over g∋v of glabel(g) for every node with a group. Labels are
      kept only for those nodes; nodes without a group keep their id.
    - **Homogeneity stop.** Each group aggregate takes min AND max of the
      member labels. If every group has min = max then f(L) = L (and
      conversely), so a test for mixed groups per round is an exact
      fixpoint test; the confirming round costs half a round. Round 1
      needs no join at all (the labels are the ids).
    - **Broadcast what Catalyst would broadcast** (loop). The incidence,
      the per-round group table and the label table are lineage-cut with
      :func:`materialize`, and a checkpoint keeps the size estimate of
      the plan it replaced (15.6 GB for the 15,000-row sf0.1 label
      table), so Catalyst alone plans every join of every round as a
      sort-merge join and re-shuffles the whole incidence twice a
      round. The decision is made once from exact row counts instead:
      the label and group tables (two longs a row) are broadcast when
      rows × width fits under ``spark.sql.autoBroadcastJoinThreshold``,
      else the joins stay shuffle joins. Broadcast, the incidence is
      joined in place and each round shuffles only partial aggregates —
      O(|groups| + |nodes|) per partition, never O(|incidence|). The
      incidence is semi-joined to ``node_ids`` once, before the loop,
      under the same broadcast decision."""
    spark = node_ids.sparkSession
    cap = _collect_row_cap(spark, 16)
    inc = inc.select("id", "gk")
    both = node_ids.select(
        "id", F.lit(None).cast(inc.schema["gk"].dataType).alias("gk")
    ).unionByName(inc.filter(F.col("gk").isNotNull()))
    with job_label(spark, "min_label_components/collect"):
        try:
            table = both.toArrow()
        except Py4JJavaError as e:  # Spark's own abort of an oversized collect
            if "spark.driver.maxResultSize" not in str(e):
                raise
            table = None
    if table is not None and (cap is None or table.num_rows <= cap):
        return spark.createDataFrame(_components_on_driver(table, max_iterations))
    del table
    return _components_loop(node_ids, inc, max_iterations)


def _dense_codes(values: pa.ChunkedArray) -> np.ndarray:
    """Codes 0..k−1 of ``values``: equal values, equal codes (a struct
    compares field by field)."""
    if pa.types.is_struct(values.type):
        codes = np.zeros(len(values), dtype=np.int64)
        for field in values.flatten():
            c = _dense_codes(field)
            codes = _dense_codes(pa.chunked_array([codes * (c.max(initial=0) + 1) + c]))
        return codes
    encoded = values.dictionary_encode(null_encoding="encode").combine_chunks()
    return encoded.indices.to_numpy()


def _components_on_driver(table: pa.Table, max_iterations: int) -> pa.Table:
    """f applied in numpy to a collected (id, gk) union whose NULL-gk rows
    are the node ids — the driver path of :func:`min_label_components`,
    solved by :func:`_min_labels` over the :class:`_Incidence` built here
    per call."""
    id_type, gk = table.schema.field("id").type, table.column("gk")
    node_rows = gk.is_null().to_numpy(zero_copy_only=False)
    all_ids = table.column("id").to_numpy()
    del table
    ids = np.unique(all_ids[node_rows])
    pos = np.searchsorted(ids, all_ids)
    # semi join: incidence rows whose id is a node
    keep = pos < len(ids)
    keep[keep] = ids[pos[keep]] == all_ids[keep]
    node_pos = pos[node_rows]
    keep &= ~node_rows
    member = pos[keep]
    group = _dense_codes(gk.filter(pa.array(keep)))
    del gk, all_ids, pos, keep
    inc = _incidence(ids, node_pos, member, group, id_type)
    return _min_labels(inc, max_iterations)


class _Incidence(NamedTuple):
    """A node↔group incidence in compressed-sparse-row form, both ways,
    over node indices into ``ids`` (the sorted distinct node ids): group g
    holds the members ``group_members[group_starts[g]:group_starts[g + 1]]``
    and node ``members[j]`` the groups
    ``member_groups[member_starts[j]:member_starts[j + 1]]``. No segment is
    empty: groups are dense codes, and ``members`` lists only the nodes
    that have a group. ``node_pos`` is each output row's index into
    ``ids``."""

    ids: np.ndarray
    node_pos: np.ndarray
    id_type: pa.DataType
    group_members: np.ndarray
    group_starts: np.ndarray
    members: np.ndarray
    member_groups: np.ndarray
    member_starts: np.ndarray


def _incidence(
    ids: np.ndarray,
    node_pos: np.ndarray,
    member: np.ndarray,
    group: np.ndarray,
    id_type: pa.DataType,
) -> _Incidence:
    """The :class:`_Incidence` whose row i puts node ``member[i]`` (an
    index into ``ids``) in group ``group[i]`` (a code ≥ 0). Duplicate rows
    are harmless (min and max are idempotent). The codes of dropped values
    leave holes, and a reduction over an empty segment is wrong, so the
    codes are made dense first. Indices are kept as ``np.intp``: numpy
    gathers by an index array of another type only after converting it."""
    sizes = np.bincount(group)
    group = (np.cumsum(sizes > 0) - 1)[group].astype(np.intp)
    member = member.astype(np.intp)

    def csr(keys, values):
        order = np.argsort(keys)
        keys = keys[order]
        # keys are ≥ 0, so the first row always starts a segment
        starts = np.flatnonzero(np.diff(keys, prepend=-1))
        return keys[starts], values[order], starts

    _, group_members, group_starts = csr(group, member)
    members, member_groups, member_starts = csr(member, group)
    return _Incidence(
        ids, node_pos, id_type,
        group_members, group_starts, members, member_groups, member_starts,
    )


def _min_labels(inc: _Incidence, max_iterations: int) -> pa.Table:
    """(id, component, component_size) of f applied in numpy over ``inc``
    by segment reductions: a group's label is the min of its members'
    labels (the max too, for the homogeneity stop), a node's the min of
    its groups' labels. Labels are indices into ``ids``, so the least
    index is the least id."""
    label = np.arange(len(inc.ids))

    def group_min_max():
        member_label = label[inc.group_members]
        return (
            np.minimum.reduceat(member_label, inc.group_starts),
            np.maximum.reduceat(member_label, inc.group_starts),
        )

    lo, hi = group_min_max()
    applied = 0
    while (lo < hi).any() and applied < max_iterations:
        # a member's label is ≥ its groups' minima: least() is the group min
        label[inc.members] = np.minimum.reduceat(
            lo[inc.member_groups], inc.member_starts
        )
        applied += 1
        if applied < max_iterations:
            lo, hi = group_min_max()

    node_label = label[inc.node_pos]
    sizes = np.bincount(node_label, minlength=len(inc.ids))
    return pa.table(
        {
            "id": pa.array(inc.ids[inc.node_pos], type=inc.id_type),
            "component": pa.array(inc.ids[node_label], type=inc.id_type),
            "component_size": sizes[node_label].astype(np.int64),
        }
    )


def _components_loop(
    node_ids: DataFrame, inc: DataFrame, max_iterations: int
) -> DataFrame:
    """The above-cap path of :func:`min_label_components`."""
    from pyspark.sql.window import Window

    spark = node_ids.sparkSession

    def group_labels(members: DataFrame, label: str) -> DataFrame:
        return (
            members.groupBy("gk")
            .agg(F.min(label).alias("lo"), F.max(label).alias("hi"))
            .transform(materialize)
        )

    is_mixed = F.col("lo") < F.col("hi")
    with job_label(spark, "min_label_components/round=0"):
        node_ids = node_ids.select("id").transform(materialize)
        small_labels = _broadcast_fits(spark, node_ids.count(), 16)
        inc = inc.join(
            _broadcast_if(node_ids, small_labels), "id", "left_semi"
        ).transform(materialize)
        groups = group_labels(inc, "id")
        n_groups, n_mixed = groups.agg(
            F.count("*"), F.count(F.when(is_mixed, 1))
        ).first()
    small_groups = _broadcast_fits(spark, n_groups, 16)
    labels, applied = None, 0
    while n_mixed and applied < max_iterations:
        with job_label(spark, f"min_label_components/round={applied + 1}"):
            labels = (
                inc.join(_broadcast_if(groups.select("gk", "lo"), small_groups), "gk")
                .groupBy("id")
                .agg(F.min("lo").alias("label"))
                .transform(materialize)
            )
            applied += 1
            if applied < max_iterations:
                groups = group_labels(
                    inc.join(_broadcast_if(labels, small_labels), "id"), "label"
                )
                n_mixed = groups.filter(is_mixed).count()

    component = F.col("id")
    if labels is not None:
        node_ids = node_ids.join(_broadcast_if(labels, small_labels), "id", "left")
        component = F.coalesce("label", "id")
    return node_ids.select(
        "id",
        component.alias("component"),
        F.count("*").over(Window.partitionBy(component)).alias("component_size"),
    )


def graph_components_sql(max_iterations: int = COMPONENTS_MAX_ITERS) -> str:
    """DuckDB mirror of :func:`q_graph_components` (r8 oracle promotion).

    A pair-graph transitive closure is infeasible at this density (the
    people graph is one dense giant component: Θ(N²)-row closure, timed
    out at sf0.01 — the pre-r8 reason this query was rows-only). The
    mirror instead unrolls the SAME bipartite min-label propagation the
    Spark side runs (:func:`min_label_components_sql`) over the same
    incidence, keyed by readable strings where Spark uses long keys —
    the key only names a group, so the components are the same.

    Equality is by CONSTRUCTION, not by a diameter bound: the update
    f(labels) is a deterministic function, Spark applies it k ≤
    ``max_iterations`` times and stops early only when every group's
    member labels are equal — exactly when f(labels) = labels, so every
    further application is a no-op — and the SQL applies it exactly
    ``max_iterations`` times: identical labels whether or not the loop
    early-stopped. The union-find parity test (tests/test_graphalgo.py)
    stays as the independent cross-check."""
    return min_label_components_sql(
        max_iterations,
        inputs=f"""{NODES_CTE.strip()},
{CUST_PARTS_CTE.strip()},
inc AS MATERIALIZED (
    SELECT id, 'college:' || college AS gk FROM nodes
      WHERE college IS NOT NULL AND college <> ''
    UNION ALL
    SELECT id, 'board:' || board FROM nodes
      WHERE board IS NOT NULL AND board <> ''
    UNION ALL
    SELECT id, 'stream:' || stream FROM nodes
      WHERE stream IS NOT NULL AND stream <> ''
    UNION ALL
    SELECT id, 'address:' || address FROM nodes
      WHERE address IS NOT NULL AND address <> ''
    UNION ALL
    SELECT id, 'i:' || interest FROM cust_parts
),
""",
    )


def min_label_components_sql(max_iterations: int, inputs: str = "") -> str:
    """DuckDB mirror of :func:`min_label_components` over relations
    ``nodes`` (id) and ``inc`` (id, gk) — tables, or CTEs defined by
    ``inputs`` (each ending in a comma).

    One CTE level per application of f, each level = group label (min
    member label per group key) → node min over its groups →
    least(incumbent, group-min). Every level is ≤|nodes| rows and two
    joins over the incidence — the factored form's own cost shape, so
    the oracle finishes in milliseconds where a closure blows up."""
    levels = []
    for r in range(1, max_iterations + 1):
        # AS MATERIALIZED: each level references the previous one TWICE
        # (incumbent + the group-min subquery); DuckDB inlines plain CTEs,
        # which doubles the tree per level — 2^20 copies of the base scans
        # exhausts file handles before it exhausts time. Materializing
        # evaluates each level once, the shape the Spark loop has anyway.
        levels.append(
            f"""l{r} AS MATERIALIZED (
    SELECT l.id,
           LEAST(l.label, COALESCE(nm.gmin, l.label)) AS label
    FROM l{r - 1} l LEFT JOIN (
        SELECT i2.id, MIN(g.glabel) AS gmin
        FROM inc i2 JOIN (
            SELECT i.gk, MIN(lv.label) AS glabel
            FROM inc i JOIN l{r - 1} lv ON i.id = lv.id
            GROUP BY i.gk
        ) g ON i2.gk = g.gk
        GROUP BY i2.id
    ) nm ON l.id = nm.id
)"""
        )
    level_sql = "".join(f",\n{level}" for level in levels)
    return f"""
WITH {inputs}l0 AS MATERIALIZED (SELECT id, id AS label FROM nodes){level_sql},
sizes AS (
    SELECT label, COUNT(*) AS component_size FROM l{max_iterations} GROUP BY label
)
SELECT l.id,
       CAST(l.label AS BIGINT) AS component,
       CAST(s.component_size AS BIGINT) AS component_size
FROM l{max_iterations} l JOIN sizes s ON l.label = s.label
"""
