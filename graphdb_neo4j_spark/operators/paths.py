"""Variable-length path discovery (J6) — bounded-depth BFS over the
undirected edge view.

The reference's sanitizer anticipates Cypher ``-[r*]-`` variable-length
patterns (/root/reference/src/llm_cypher.py:211-216) and its relationship
template walks paths undirected (llm_cypher.py:86-96). Catalyst has no
iterative-fixpoint primitive, so BFS is a driver-side loop of DataFrame
joins (SURVEY.md §7.4-H3):

    frontier ⋈ edges → next frontier, anti-join visited, repeat ≤ max_depth

Each iteration is ``localCheckpoint``-ed: the plan would otherwise double in
depth every hop (lineage growth is the classic iterative-algorithm failure
mode at scale). The loop breaks as soon as the frontier empties, so the
depth parameter is a cap, not a forced count: :func:`q_bfs_distances`
bounds it (the Cypher ``[*..n]`` form), :func:`q_bfs_unbounded` runs to
fixpoint with depth as a pure safety ceiling (the unbounded ``[*]`` form,
oracled by a DuckDB recursive CTE); both registry queries walk the
node↔group membership (:func:`bfs_clique_factored`). Over an explicit
edge list, :func:`bfs_distances` and :func:`shortest_path` read the same
level loop (:func:`_bfs_levels`: distance and least parent per node),
and the two oracles share one SAME_COLLEGE ∪ NEARBY edge CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.sources.tpch import NODES_CTE, customer_nodes
from graphdb_neo4j_spark.session import materialize

DEFAULT_MAX_DEPTH = 3

# Shared by q_weighted_distances AND weighted_distances_sql: the oracle
# hash-match only holds when both sides run the same source node and the
# same number of relaxation rounds, so the defaults live in one place
# (ADVICE r8 — duplicated literals desynchronize silently).
WEIGHTED_SOURCE_ID = 1
WEIGHTED_MAX_ROUNDS = 6


def _bfs_levels(
    edges_undirected: DataFrame,
    source_id: int,
    max_depth: int,
    target_id: int | None = None,
) -> DataFrame:
    """(id, dist, parent) for every node within ``max_depth`` hops of
    ``source_id``: the minimum hop count, and the least neighbour one
    level closer (NULL at the source). Stops early at an empty frontier,
    or at the level that reaches ``target_id`` when it is given."""
    spark = edges_undirected.sparkSession
    visited = spark.createDataFrame(
        [(source_id, 0, None)], "id long, dist int, parent long"
    )
    frontier = visited.select("id")
    edges = edges_undirected.select("src", "dst")

    found = source_id == target_id
    for depth in range(1, max_depth + 1):
        if found:
            break
        next_frontier = (
            frontier.join(edges, frontier.id == edges.src)
            .groupBy("dst")
            .agg(F.min("src").alias("parent"))  # deterministic parent choice
            .select(F.col("dst").alias("id"), F.lit(depth).alias("dist"), "parent")
            .join(visited.select("id"), "id", "left_anti")
        )
        # Truncate lineage: without this the logical plan doubles per hop.
        next_frontier = next_frontier.transform(materialize, eager=True)
        if not next_frontier.take(1):
            break
        visited = visited.unionByName(next_frontier)
        frontier = next_frontier.select("id")
        if target_id is not None:
            found = bool(next_frontier.filter(F.col("id") == target_id).take(1))
    return visited


def bfs_distances(
    edges_undirected: DataFrame, source_id: int, max_depth: int = DEFAULT_MAX_DEPTH
) -> DataFrame:
    """(id, dist) for every node within ``max_depth`` hops of ``source_id``
    (minimum hop count; the source itself at dist 0)."""
    return _bfs_levels(edges_undirected, source_id, max_depth).select("id", "dist")


def q_bfs_distances(
    spark: SparkSession, sf_dir: str, source_id: int = 1, max_depth: int = 2
) -> DataFrame:
    """BFS over the sparser edge types (SAME_COLLEGE + NEARBY) from one
    node, depth ≤ 2 — the oracle unrolls the same two hops in SQL.

    r7: runs the clique-FACTORED walk with the depth cap (the r6
    ``bfs_unbounded`` treatment applied to the bounded ``[*..n]`` form —
    the full-bench 10× sweep caught this query still walking the
    materialized Θ(N²/k) clique edges, which inflate 100× under ×10
    group sizes). Both walks are level-synchronous BFS, so bounded depth
    factors identically; the edge-walk :func:`bfs_distances` stays as
    the pytest cross-check."""
    return bfs_clique_factored(
        customer_nodes(spark, sf_dir),
        source_id,
        ("college", "address"),
        max_depth=max_depth,
    )


# SAME_COLLEGE ∪ NEARBY: each edge once (``base_edges``, src < dst), then
# both directions (``und``), for the oracles of both BFS queries
_BFS_EDGES_CTE = """base_edges AS (
    SELECT a.id AS src, b.id AS dst FROM nodes a JOIN nodes b
      ON a.college = b.college AND a.id < b.id
      WHERE a.college IS NOT NULL AND a.college <> ''
    UNION ALL
    SELECT a.id AS src, b.id AS dst FROM nodes a JOIN nodes b
      ON a.address = b.address AND a.id < b.id
      WHERE a.address IS NOT NULL AND a.address <> ''
),
und AS (
    SELECT src, dst FROM base_edges
    UNION ALL
    SELECT dst AS src, src AS dst FROM base_edges
)"""


def bfs_distances_sql(source_id: int = 1) -> str:
    """Depth-2 unrolled BFS mirror."""
    return f"""
WITH {NODES_CTE.strip()},
{_BFS_EDGES_CTE},
d1 AS (
    SELECT DISTINCT dst AS id FROM und
    WHERE src = {source_id} AND dst <> {source_id}
),
d2 AS (
    SELECT DISTINCT e.dst AS id
    FROM und e JOIN d1 ON e.src = d1.id
    WHERE e.dst <> {source_id} AND e.dst NOT IN (SELECT id FROM d1)
)
SELECT CAST({source_id} AS BIGINT) AS id, 0 AS dist
UNION ALL SELECT id, 1 AS dist FROM d1
UNION ALL SELECT id, 2 AS dist FROM d2
"""


def bfs_clique_factored(
    nodes: DataFrame,
    source_id: int,
    attrs: tuple[str, ...] = ("college", "address"),
    max_depth: int = 64,
) -> DataFrame:
    """(id, dist) BFS on the attribute-clique-union graph WITHOUT
    materializing an edge — the :func:`~graphdb_neo4j_spark.operators.
    graphalgo.pagerank_clique_factored` discipline applied to
    reachability. Two nodes are adjacent iff they share any non-NULL/''
    attribute, so one hop factors through the node↔group bipartite
    graph: frontier nodes → their groups (minus groups already
    expanded) → those groups' members (minus nodes already visited).
    Each hop is two equi-joins on (attr, value) keys over MEMBERSHIP
    rows (N·|attrs| of them) instead of a join against Θ(N²/k) clique
    edges — at the 10× stand-in the factored walk runs in 5.4 s where
    the edge-walk form (whose edge set inflates 100×) did not finish in
    570 s (r6 scale check, PLANS.md).
    A group, once expanded, never yields new nodes (all its members are
    visited), so the per-attr visited-group sets also bound total work
    by |groups| across ALL hops, not per hop."""
    spark = nodes.sparkSession
    # r14: one pass over the node table via an in-row explode instead of
    # one union branch per attribute (each branch re-rendered the node
    # pipeline in the materialized plan; guide §2.4). Same rows.
    cells = F.array(
        *[
            F.struct(F.lit(attr).alias("g_attr"), F.col(attr).alias("g_val"))
            for attr in attrs
        ]
    )
    member = (
        nodes.select("id", F.explode(cells).alias("s"))
        .filter(F.col("s.g_val").isNotNull() & (F.col("s.g_val") != ""))
        .select("id", "s.g_attr", "s.g_val")
        .transform(materialize)
    )
    visited = spark.createDataFrame([(source_id, 0)], "id long, dist int")
    frontier = visited.select("id")
    seen_groups = spark.createDataFrame([], "g_attr string, g_val string")
    # NOTE (r14): a fused per-hop variant (both frames lazy + one count)
    # was built and interleaved-A/B'd at 1.21× — under AQE a lazy
    # checkpoint's toRdd still executes its query stages at call time,
    # so the fusion saved no job launches and lengthened the critical
    # path. The eager two-probe loop below is the measured-faster form.
    for depth in range(1, max_depth + 1):
        fr_groups = (
            member.join(frontier, "id")
            .select("g_attr", "g_val")
            .distinct()
            .join(seen_groups, ["g_attr", "g_val"], "left_anti")
            .transform(materialize, eager=True)
        )
        if not fr_groups.take(1):
            break
        next_frontier = (
            member.join(fr_groups, ["g_attr", "g_val"])
            .select("id")
            .distinct()
            .join(visited.select("id"), "id", "left_anti")
            .transform(materialize, eager=True)
        )
        seen_groups = seen_groups.unionByName(fr_groups)
        if not next_frontier.take(1):
            break
        visited = visited.unionByName(
            next_frontier.withColumn("dist", F.lit(depth))
        )
        frontier = next_frontier
    return visited


def q_bfs_unbounded(
    spark: SparkSession, sf_dir: str, source_id: int = 1
) -> DataFrame:
    """Cypher's unbounded ``-[r*]-`` (SURVEY §7.4-H3 closure): BFS run to
    FIXPOINT with the depth parameter as a pure SAFETY ceiling (64 ≫ any
    clique-union graph's diameter), not a semantic bound. r6: runs the
    clique-FACTORED walk (group-membership joins, no edge
    materialization — the 100 TB path; the edge-walk
    :func:`bfs_distances` is the pytest cross-check). The DuckDB oracle
    is a recursive CTE over materialized edges taking MIN(dist) per
    reached node — a genuinely different computation of the same
    fixpoint."""
    return bfs_clique_factored(
        customer_nodes(spark, sf_dir), source_id, ("college", "address")
    )


def bfs_unbounded_sql(source_id: int = 1, depth_cap: int = 32) -> str:
    """Recursive-CTE mirror of the unbounded BFS: walk the undirected
    edges accumulating (id, dist) pairs (UNION dedups exact pairs; the
    ``dist < cap`` guard bounds the recursion far above the clique-union
    graph's diameter), then MIN(dist) per node is the BFS distance."""
    return f"""
WITH RECURSIVE {NODES_CTE.strip()},
{_BFS_EDGES_CTE},
walk(id, dist) AS (
    SELECT CAST({source_id} AS BIGINT), 0
    UNION
    SELECT e.dst, w.dist + 1
    FROM und e JOIN walk w ON e.src = w.id
    WHERE w.dist < {depth_cap}
)
SELECT id, CAST(MIN(dist) AS INT) AS dist FROM walk GROUP BY id
"""


def shortest_path(
    edges_undirected: DataFrame,
    source_id: int,
    target_id: int,
    max_depth: int = DEFAULT_MAX_DEPTH,
) -> list[int] | None:
    """Node-id chain of one shortest path source→target (BFS parent
    pointers), or None if unreachable within ``max_depth``.

    The parent map stays distributed; only the ≤ max_depth chain nodes are
    ever collected (one point-filter per hop)."""
    visited = _bfs_levels(edges_undirected, source_id, max_depth, target_id)
    chain = [target_id]
    while chain[-1] != source_id:
        row = visited.filter(F.col("id") == chain[-1]).select("parent").first()
        if row is None:  # the target was not reached
            return None
        chain.append(row.parent)
    return chain[::-1]


# --- weighted shortest paths (Bellman-Ford relaxation) ------------------------


def weighted_distances(
    edges_undirected: DataFrame,
    source_id: int,
    weight_col: str = "w",
    max_rounds: int = 10,
) -> DataFrame:
    """(id, dist) — minimum-WEIGHT distance from ``source_id`` over an
    undirected weighted edge list: distributed Bellman-Ford. BFS finds
    fewest HOPS; with per-edge costs (1/affinity here, latency/toll in
    general) the cheapest route can be longer in hops, which hop-BFS
    gets wrong by construction.

    Scale shape: each round relaxes EVERY edge once — candidate =
    dist(src) + w joined on the edge list, then min per dst against the
    incumbent (one shuffle on the join key, one on the groupBy; both
    partial-combine). Rounds bound path LENGTH (≤ max_rounds hops), the
    classic Bellman-Ford bound; early stop when a round improves
    nothing. Per-round ``localCheckpoint`` truncates the iterative
    lineage (the BFS discipline above). Pregel sends messages only from
    CHANGED vertices — same asymptotics, this form trades a frontier
    filter for plan simplicity; the improved-count early stop recovers
    most of the win on converged graphs.
    """
    spark = edges_undirected.sparkSession
    edges = edges_undirected.select(
        F.col("src").alias("u"), F.col("dst").alias("v"), F.col(weight_col)
    )
    both = edges.unionByName(
        edges.select(
            F.col("v").alias("u"), F.col("u").alias("v"), weight_col
        )
    ).transform(materialize)
    dist = spark.createDataFrame(
        [(source_id, 0.0)], "id long, dist double"
    ).transform(materialize)
    for _ in range(max_rounds):
        candidates = (
            both.join(dist.select(F.col("id").alias("u"), "dist"), "u")
            .select(
                F.col("v").alias("id"),
                (F.col("dist") + F.col(weight_col)).alias("cand"),
            )
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        # improved-flag folded into the checkpointed frame (r9, same
        # discipline as graph_components): the full join already holds
        # both incumbent and candidate, so "improved" = candidate strictly
        # beats incumbent (a new node has NULL incumbent → inf, and its
        # candidate is always finite, so the one comparison covers both
        # cases). One lineage-truncating count job per round instead of
        # eager-checkpoint job + re-join + count job.
        tmp = (
            dist.join(candidates, "id", "full")
            .select(
                "id",
                F.least(
                    F.coalesce("dist", F.lit(float("inf"))),
                    F.coalesce("cand", F.lit(float("inf"))),
                ).alias("dist"),
                (
                    F.coalesce("cand", F.lit(float("inf")))
                    < F.coalesce("dist", F.lit(float("inf")))
                ).alias("chg"),
            )
            .transform(materialize)
        )
        improved = tmp.filter("chg").count()
        dist = tmp.select("id", "dist")
        if improved == 0:
            break
    return dist


def q_weighted_distances(
    spark: SparkSession,
    sf_dir: str,
    source_id: int = WEIGHTED_SOURCE_ID,
    max_rounds: int = WEIGHTED_MAX_ROUNDS,
) -> DataFrame:
    """Registered form: cheapest-route distances from one student over
    SHARES_INTEREST edges weighted by affinity — w = 1/|common interests|
    (more shared interests ⇒ closer), rounded to 6 so the float sum-of-
    weights compares identically across engines/partitionings. Rows-only:
    the iterative min-plus fixpoint has no SQL mirror; pytest pins a
    driver-side Dijkstra on the same edge list.
    """
    from graphdb_neo4j_spark.sources.tpch import customer_interest_pairs

    # lazy checkpoint: the token self-join consumes the fact-join+distinct
    # on both sides (the edge_counts/node_similarity r13 pattern)
    pairs = customer_interest_pairs(spark, sf_dir).transform(materialize)
    a = pairs.select(F.col("id").alias("src"), "interest")
    b = pairs.select(F.col("id").alias("dst"), "interest")
    edges = (
        a.join(b, "interest")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").alias("n_common"))
        .select(
            "src", "dst", F.round(F.lit(1.0) / F.col("n_common"), 6).alias("w")
        )
    )
    out = weighted_distances(edges, source_id, max_rounds=max_rounds)
    return out.select("id", F.round("dist", 6).alias("dist"))


def weighted_distances_sql(
    source_id: int = WEIGHTED_SOURCE_ID, max_rounds: int = WEIGHTED_MAX_ROUNDS
) -> str:
    """DuckDB mirror of :func:`q_weighted_distances` (r8, promoting the
    last oracle-promotable rows-only registration — VERDICT r7 #4).

    The Spark side is a SYNCHRONOUS round-based Bellman-Ford: round r+1's
    distance per node = MIN(incumbent, MIN over in-edges of dist(u)+w).
    A recursive CTE can't mirror that directly (the walk would enumerate
    every ≤6-hop path — exponential on clique-ish interest graphs), but
    the fixpoint unrolls EXACTLY: one CTE level per round, each level a
    MIN-per-id over (previous level ∪ relaxed candidates). Level size is
    bounded by |nodes|, so the oracle is 6 bounded joins, not a walk.

    Float equality holds bit-for-bit by induction: every candidate is
    prev_dist + w with both engines in IEEE double (edge w is
    ROUND(1.0/n, 6) in both), and MIN is exact — so round r's values are
    identical across engines whenever round r-1's are. The final
    ROUND(dist, 6) matches the Spark query's cross-engine guard."""
    from graphdb_neo4j_spark.sources.tpch import CUST_PARTS_CTE

    levels = []
    for r in range(1, max_rounds + 1):
        # AS MATERIALIZED: each level references the previous one twice
        # (incumbent union + relax join); DuckDB inlines plain CTEs, so
        # the tree doubles per level — 2^6 is tolerable but pointless.
        levels.append(
            f"""d{r} AS MATERIALIZED (
    SELECT id, MIN(dist) AS dist FROM (
        SELECT id, dist FROM d{r - 1}
        UNION ALL
        SELECT e.v AS id, d.dist + e.w AS dist
        FROM d{r - 1} d JOIN und e ON e.u = d.id
    ) GROUP BY id
)"""
        )
    level_sql = ",\n".join(levels)
    return f"""
WITH {CUST_PARTS_CTE.strip()},
edges AS (
    SELECT a.id AS src, b.id AS dst,
           ROUND(CAST(1.0 AS DOUBLE) / COUNT(*), 6) AS w
    FROM cust_parts a JOIN cust_parts b
      ON a.interest = b.interest AND a.id < b.id
    GROUP BY a.id, b.id
),
und AS (
    SELECT src AS u, dst AS v, w FROM edges
    UNION ALL
    SELECT dst AS u, src AS v, w FROM edges
),
d0 AS (SELECT CAST({source_id} AS BIGINT) AS id, CAST(0.0 AS DOUBLE) AS dist),
{level_sql}
SELECT id, ROUND(dist, 6) AS dist FROM d{max_rounds}
"""
