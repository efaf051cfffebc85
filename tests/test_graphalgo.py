"""Whole-graph analytics: degree stats vs hand-count, PageRank vs
closed-form solutions on known graphs + global invariants."""

import numpy as np
import pyarrow as pa
import pytest

from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators import graphalgo


def _nodes(spark, n):
    return spark.createDataFrame([(i,) for i in range(n)], "id long")


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def test_pagerank_cycle_is_uniform(spark):
    """On a cycle every node is symmetric → rank = 1 for all, any
    iteration count."""
    n = 5
    ranks = graphalgo.pagerank(
        _nodes(spark, n),
        _edges(spark, [(i, (i + 1) % n) for i in range(n)]),
        iterations=3,
    ).collect()
    for r in ranks:
        assert r["rank"] == pytest.approx(1.0, abs=1e-9)


def test_pagerank_star_closed_form(spark):
    """Undirected star K_{1,k}: by symmetry every round is two states,
      leaf'   = (1-d) + d·center/k
      center' = (1-d) + d·k·leaf   [leaves have degree 1]
    from 1.0, whose fixpoint is center = ((1-d)(1+dk)) / (1-d²), leaf by
    back-substitution. A few edge-walk rounds match the recurrence
    exactly; the recurrence itself converges to the closed form."""
    d = graphalgo.DAMPING
    k = 4
    rounds = 8

    def two_state(n):
        center = leaf = 1.0
        for _ in range(n):
            center, leaf = (1 - d) + d * k * leaf, (1 - d) + d * center / k
        return center, leaf

    center_expected = (1 - d) * (1 + d * k) / (1 - d * d)
    assert two_state(400) == pytest.approx(
        (center_expected, (1 - d) + d * center_expected / k), abs=1e-12
    )
    center, leaf = two_state(rounds)
    ranks = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(
            _nodes(spark, k + 1),
            _edges(spark, [(0, i) for i in range(1, k + 1)]),
            iterations=rounds,
        ).collect()
    }
    assert ranks[0] == pytest.approx(center, abs=1e-12)
    for i in range(1, k + 1):
        assert ranks[i] == pytest.approx(leaf, abs=1e-12)


def test_pagerank_mass_conservation(spark):
    """Σrank = N when the graph has no isolated nodes (undirected ⇒ no
    dangling mass)."""
    n = 6
    edges = [(i, j) for i in range(n) for j in range(i + 1, n) if (i + j) % 2]
    total = (
        graphalgo.pagerank(_nodes(spark, n), _edges(spark, edges), iterations=3)
        .agg(F.sum("rank"))
        .collect()[0][0]
    )
    assert total == pytest.approx(n, rel=1e-9)


def test_pagerank_isolated_node_gets_teleport_floor(spark):
    ranks = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(
            _nodes(spark, 3), _edges(spark, [(0, 1)]), iterations=10
        ).collect()
    }
    assert ranks[2] == pytest.approx(1 - graphalgo.DAMPING, abs=1e-9)


def test_factored_pagerank_equals_edge_walk(spark, sf_dir):
    """The inclusion–exclusion clique factoring must reproduce the
    edge-materializing PageRank EXACTLY (same fixpoint, same damping,
    same iteration count) — any discrepancy means the algebra is wrong."""
    gen = {
        r["id"]: r["rank"] for r in graphalgo.q_pagerank(spark, sf_dir).collect()
    }
    fac = {
        r["id"]: r["rank"]
        for r in graphalgo.q_pagerank_factored(spark, sf_dir).collect()
    }
    assert set(gen) == set(fac)
    for i in gen:
        assert fac[i] == pytest.approx(gen[i], abs=2e-6), i


def test_factored_ppr_equals_edge_walk(spark, sf_dir):
    """The seeded inclusion–exclusion factoring must reproduce the
    edge-materializing personalized PageRank EXACTLY on the same
    SAME_COLLEGE ∪ SAME_BOARD graph."""
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges
    from graphdb_neo4j_spark.sources.tpch import customer_nodes

    nodes = customer_nodes(spark, sf_dir)
    edges = derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "board", "SAME_BOARD")
    ).select("src", "dst")
    walk = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(
            nodes, edges, iterations=5, seed_ids=[graphalgo.PPR_SEED_ID]
        ).collect()
    }
    fac = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank_clique_factored(
            nodes, iterations=5, seed_ids=[graphalgo.PPR_SEED_ID]
        ).collect()
    }
    assert set(walk) == set(fac)
    for i in walk:
        assert fac[i] == pytest.approx(walk[i], abs=1e-12), i


def test_factored_lpa_equals_edge_walk(spark, sf_dir):
    """The per-pair top-2 factored LPA must reproduce the
    edge-materializing synchronous LPA EXACTLY — labels are discrete, so
    agreement is equality, not approximation (any divergence means the
    self-correction algebra or the tie-break is wrong)."""
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges
    from graphdb_neo4j_spark.sources.tpch import customer_nodes

    nodes = customer_nodes(spark, sf_dir)
    edges = derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "board", "SAME_BOARD")
    ).select("src", "dst")
    walk = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation(nodes, edges, iterations=4).collect()
    }
    fac = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation_clique_factored(
            nodes, iterations=4
        ).collect()
    }
    assert walk == fac


def test_degree_stats_against_materialized_edges(spark, sf_dir):
    """The no-pair-materialization degrees must equal degrees counted on
    the actually-materialized edge table."""
    from graphdb_neo4j_spark.operators.edges import derive_all_edges

    edges = derive_all_edges(spark, sf_dir).select("src", "dst", "type")
    both = edges.select(F.col("src").alias("id"), "type").unionByName(
        edges.select(F.col("dst").alias("id"), "type")
    )
    truth = {
        (r["id"], r["type"]): r["n"]
        for r in both.groupBy("id", "type").agg(F.count("*").alias("n")).collect()
    }
    got = graphalgo.q_degree_stats(spark, sf_dir).collect()
    assert got
    for row in got:
        for etype in ("SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY",
                      "SHARES_INTEREST"):
            assert row[etype.lower() + "_deg"] == truth.get(
                (row["id"], etype), 0
            ), f"id={row['id']} type={etype}"


def test_node_similarity_matches_bruteforce(spark, sf_dir):
    """Top-k Jaccard neighbors vs a driver-side brute force over the
    interest sets (small fixture)."""
    from graphdb_neo4j_spark.sources.tpch import customer_interest_pairs

    got = {
        (r["id"], r["nbr"]): (round(r["jaccard"], 6), r["rank"])
        for r in graphalgo.q_node_similarity(spark, sf_dir).collect()
    }
    sets: dict[int, set] = {}
    for r in customer_interest_pairs(spark, sf_dir).collect():
        sets.setdefault(r["id"], set()).add(r["interest"])
    want = {}
    for a, sa in sets.items():
        sims = []
        for b, sb in sets.items():
            if a == b:
                continue
            inter = len(sa & sb)
            if not inter:
                continue
            j = inter / (len(sa) + len(sb) - inter)
            if j >= graphalgo.NODE_SIM_CUTOFF:
                sims.append((-j, b))
        sims.sort()
        for rank, (negj, b) in enumerate(sims[: graphalgo.NODE_SIM_TOPK], 1):
            want[(a, b)] = (round(-negj, 6), rank)
    assert got == want
    assert len(want) > 0  # fixture must exercise the cutoff/top-k path


def test_node_similarity_scores_are_symmetric(spark, sf_dir):
    """Jaccard is symmetric: whenever both directions of a pair survive
    their nodes' top-k, the scores agree."""
    rows = graphalgo.q_node_similarity(spark, sf_dir).collect()
    score = {(r["id"], r["nbr"]): r["jaccard"] for r in rows}
    for (a, b), j in score.items():
        if (b, a) in score:
            assert score[(b, a)] == j


def test_graph_components_matches_union_find(spark, sf_dir):
    """Factored bipartite WCC vs a driver-side union-find over the same
    incidence (node ~ attribute value / interest token)."""
    from graphdb_neo4j_spark.graph import ATTRIBUTE_EDGE_TYPES
    from graphdb_neo4j_spark.sources.tpch import (
        customer_interest_pairs,
        customer_nodes,
    )

    got = {
        r["id"]: (r["component"], r["component_size"])
        for r in graphalgo.q_graph_components(spark, sf_dir).collect()
    }

    nodes = customer_nodes(spark, sf_dir).collect()
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra

    ids = [n["id"] for n in nodes]
    for n in nodes:
        for attr in ATTRIBUTE_EDGE_TYPES.values():
            v = n[attr]
            if v:
                union(n["id"], f"{attr}:{v}")
    for r in customer_interest_pairs(spark, sf_dir).collect():
        union(r["id"], f"i:{r['interest']}")

    comp_min: dict = {}
    for i in ids:
        root = find(i)
        comp_min[root] = min(comp_min.get(root, i), i)
    members: dict = {}
    for i in ids:
        members.setdefault(comp_min[find(i)], []).append(i)
    want = {
        i: (comp_min[find(i)], len(members[comp_min[find(i)]])) for i in ids
    }
    assert got == want
    assert len(got) == len(ids)


# --- personalized PageRank -----------------------------------------------------


def test_ppr_mass_conservation_and_localization(spark):
    """On a path 0-1-2-3-4 seeded at 0: Σrank = 1 every round (no
    isolated nodes ⇒ the damped walk conserves probability mass) and the
    mass concentrates near the seed. NOTE: strict per-hop decay is NOT an
    invariant — the path is bipartite (even/odd oscillation at finite
    iteration counts) and node 1's degree-2 in-flow beats the seed's
    degree-1 at the fixpoint — so the assertion is on neighborhood mass,
    not per-node order."""
    n = 5
    ranks = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(
            _nodes(spark, n),
            _edges(spark, [(i, i + 1) for i in range(n - 1)]),
            seed_ids=[0],
            iterations=6,
        ).collect()
    }
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-9)
    near = ranks[0] + ranks[1] + ranks[2]
    far = ranks[3] + ranks[4]
    assert near > 5 * far
    assert min(ranks[0], ranks[1]) > max(ranks[3], ranks[4])


def test_ppr_matches_dense_reference(spark):
    """Exact agreement with a dense numpy-free Python reference on a
    small irregular graph (triangle + tail), any seed."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4)]
    n, d, iters, seeds = 5, graphalgo.DAMPING, 7, [2, 4]
    adj = {i: [] for i in range(n)}
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    e = [1.0 / len(seeds) if i in seeds else 0.0 for i in range(n)]
    r = e[:]
    for _ in range(iters):
        contrib = [0.0] * n
        for u in range(n):
            for v in adj[u]:
                contrib[v] += r[u] / len(adj[u])
        r = [(1 - d) * e[i] + d * contrib[i] for i in range(n)]
    got = {
        row["id"]: row["rank"]
        for row in graphalgo.pagerank(
            _nodes(spark, n), _edges(spark, edges), seed_ids=seeds, iterations=iters
        ).collect()
    }
    for i in range(n):
        assert got[i] == pytest.approx(r[i], abs=1e-12)


def test_ppr_isolated_nonseed_is_zero(spark):
    """A node with no edges and no seed mass can never acquire rank; an
    isolated SEED retains exactly the teleport share each round."""
    ranks = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(
            _nodes(spark, 4),
            _edges(spark, [(0, 1)]),
            seed_ids=[2],
            iterations=5,
        ).collect()
    }
    assert ranks[3] == 0.0
    assert ranks[0] == 0.0 and ranks[1] == 0.0
    assert ranks[2] == pytest.approx(1.0 - graphalgo.DAMPING, abs=1e-12)


# --- label propagation -----------------------------------------------------------


def _lpa_reference(n, edges, iterations):
    """Pure-Python synchronous LPA with the same (count desc, label asc)
    tie-break — the spec the Spark loop must match."""
    adj = {i: [] for i in range(n)}
    for u, v in edges:
        adj[u].append(v)
        adj[v].append(u)
    labels = list(range(n))
    for _ in range(iterations):
        nxt = labels[:]
        for i in range(n):
            if not adj[i]:
                continue
            counts: dict = {}
            for j in adj[i]:
                counts[labels[j]] = counts.get(labels[j], 0) + 1
            nxt[i] = min(counts, key=lambda l: (-counts[l], l))
        labels = nxt
    return labels


def test_lpa_two_cliques_with_bridge(spark):
    """Two triangles {0,1,2} and {3,4,5} joined by one bridge edge 2-3:
    after convergence each triangle is one community and the bridge does
    not merge them. (Label VALUES are dynamics-dependent — the bridge
    leaks label 2 rightward before the left triangle settles on 0 — so
    the assertion is on the partition, not on which label won.)"""
    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    labels = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation(
            _nodes(spark, 6), _edges(spark, edges), iterations=6
        ).collect()
    }
    assert labels[0] == labels[1] == labels[2]
    assert labels[3] == labels[4] == labels[5]
    assert labels[0] != labels[3]


def test_lpa_tiebreak_is_min_label(spark):
    """A node whose neighbor labels split evenly adopts the SMALLEST —
    star center with leaves 1..4 (all distinct labels, count 1 each)."""
    edges = [(0, i) for i in range(1, 5)]
    labels = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation(
            _nodes(spark, 5), _edges(spark, edges), iterations=1
        ).collect()
    }
    assert labels[0] == 1  # min over {1,2,3,4}
    for i in range(1, 5):
        assert labels[i] == 0  # every leaf's only neighbor is the center


def test_lpa_matches_python_reference(spark):
    """Exact agreement with the pure-Python synchronous spec on an
    irregular graph (two uneven communities + an isolated node), at a
    truncating iteration count (3 — mid-oscillation states must match
    too, not just fixpoints)."""
    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 5), (5, 3), (6, 3)]
    n, iters = 8, 3  # node 7 is isolated
    want = _lpa_reference(n, edges, iters)
    got = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation(
            _nodes(spark, n), _edges(spark, edges), iterations=iters
        ).collect()
    }
    assert got == {i: want[i] for i in range(n)}
    assert got[7] == 7  # isolated keeps its own label


def test_factored_forms_handle_null_and_empty_attrs(spark):
    """NULL/'' attributes form no clique edges (derive_attribute_edges and
    every oracle filter them out). The factored forms must agree with the
    edge walk on a node set containing NULL colleges, '' boards, and one
    node that is NULL/'' in BOTH (fully isolated) — previously the group
    equi-joins dropped NULL-attr nodes and treated '' as a real clique."""
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges

    rows = [
        (1, "mit", "cbse"),
        (2, "mit", None),
        (3, None, "cbse"),
        (4, "", "icse"),
        (5, "mit", "icse"),
        (6, None, ""),  # isolated: no edges at all
        (7, "", ""),  # isolated: '' is not a clique
        (8, None, "cbse"),  # NULL-college class of two sharing a board with 3
        (9, "mit", "cbse"),  # seed 1 sits inside the (mit, cbse) class
    ]
    nodes = spark.createDataFrame(rows, "id long, college string, board string")
    edges = derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "board", "SAME_BOARD")
    ).select("src", "dst")

    walk_pr = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank(nodes, edges, iterations=5).collect()
    }
    fac_pr = {
        r["id"]: r["rank"]
        for r in graphalgo.pagerank_clique_factored(nodes, iterations=5).collect()
    }
    assert set(walk_pr) == set(fac_pr)
    for i in walk_pr:
        assert fac_pr[i] == pytest.approx(walk_pr[i], abs=1e-12), i

    for seeds in ([1], [1, 3]):
        _assert_same_ranks(
            graphalgo.pagerank_clique_factored(nodes, iterations=5, seed_ids=seeds),
            graphalgo.pagerank(nodes, edges, iterations=5, seed_ids=seeds),
        )

    walk_lpa = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation(nodes, edges, iterations=4).collect()
    }
    fac_lpa = {
        r["id"]: r["label"]
        for r in graphalgo.label_propagation_clique_factored(
            nodes, iterations=4
        ).collect()
    }
    assert walk_lpa == fac_lpa
    assert fac_lpa[6] == 6 and fac_lpa[7] == 7  # isolated keep their own label


def _clique_edges(nodes):
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges

    return derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "board", "SAME_BOARD")
    ).select("src", "dst")


def _assert_same_ranks(got_df, want_df):
    got = {r["id"]: r["rank"] for r in got_df.collect()}
    want = {r["id"]: r["rank"] for r in want_df.collect()}
    assert set(got) == set(want)
    for i in want:
        assert got[i] == pytest.approx(want[i], abs=1e-12), i


def test_lumped_class_table_is_bounded_on_null_heavy_nodes(spark):
    """1,000 nodes, every college NULL: the class table stays within
    (|A|+1)(|B|+1) + |seeds| rows (a per-node "no clique" key would make
    it O(N)) and the lumped ranks still equal the edge walk."""
    boards = ["cbse", "icse", "ib", "state", None, ""]
    rows = [(i, None, boards[i % len(boards)]) for i in range(1000)]
    nodes = spark.createDataFrame(rows, "id long, college string, board string")
    edges = _clique_edges(nodes)
    n_a, n_b = 0, 4  # distinct real colleges / boards
    seeds = [0, 5, 500]  # two in board cliques, one (board '') in no clique
    for seed_ids in (None, seeds):
        _, _, cls = graphalgo._pagerank_classes(nodes, ("college", "board"), seed_ids)
        assert cls.count() <= (n_a + 1) * (n_b + 1) + len(seed_ids or [])
    _assert_same_ranks(
        graphalgo.pagerank_clique_factored(nodes, iterations=5),
        graphalgo.pagerank(nodes, edges, iterations=5),
    )
    _assert_same_ranks(
        graphalgo.pagerank_clique_factored(nodes, iterations=5, seed_ids=seeds),
        graphalgo.pagerank(nodes, edges, iterations=5, seed_ids=seeds),
    )


_ROUNDS_ROWS = [(1, "mit", "cbse"), (2, "mit", "icse"), (3, "iit", "cbse"),
                (4, "iit", "cbse"), (5, None, "icse"), (6, "mit", "")]
_ROUNDS_SCHEMA = "id long, college string, board string"


def _rounds_nodes(spark):
    return spark.createDataFrame(_ROUNDS_ROWS, _ROUNDS_SCHEMA)


def test_lumped_ppr_many_rounds_equals_edge_walk(spark):
    """21 rounds on the class table continue the same recurrence as the
    edge walk."""
    nodes = _rounds_nodes(spark)
    _assert_same_ranks(
        graphalgo.pagerank_clique_factored(nodes, iterations=21, seed_ids=[3]),
        graphalgo.pagerank(
            nodes, _clique_edges(nodes), iterations=21, seed_ids=[3]
        ),
    )


def test_lumped_pagerank_rounds_submit_no_jobs(spark):
    """The rounds run on the driver: a warm call submits as many jobs at
    40 rounds as at 5, and its executed plan has no window."""
    from tests.test_load_table import _jobs_of

    nodes = _rounds_nodes(spark)

    def run(iterations):
        ranks = graphalgo.pagerank_clique_factored(nodes, iterations=iterations)
        ranks.collect()
        return ranks

    run(5)  # warm
    few = _jobs_of(spark, lambda: run(5), "lumped_rounds_5")
    many = _jobs_of(spark, lambda: run(40), "lumped_rounds_40")
    assert 0 < len(few) == len(many), (few, many)
    plan = run(5)._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan


def test_lumped_pagerank_edge_cases(spark):
    """No nodes give no rows; 0 rounds give the teleport vector e (1.0 on
    every node for PageRank, 1/|S| on the seeds for PPR); a seed that is
    no node gives 0.0 everywhere."""
    empty = spark.createDataFrame([], _ROUNDS_SCHEMA)
    assert graphalgo.pagerank_clique_factored(empty).collect() == []
    assert graphalgo.pagerank_clique_factored(empty, seed_ids=[1]).collect() == []

    nodes = _rounds_nodes(spark)
    ids = [r[0] for r in _ROUNDS_ROWS]
    ranks = graphalgo.pagerank_clique_factored(nodes, iterations=0).collect()
    assert {r["id"]: r["rank"] for r in ranks} == dict.fromkeys(ids, 1.0)
    ranks = graphalgo.pagerank_clique_factored(nodes, iterations=0, seed_ids=[1, 3])
    want = {i: 0.5 if i in (1, 3) else 0.0 for i in ids}
    assert {r["id"]: r["rank"] for r in ranks.collect()} == want
    ranks = graphalgo.pagerank_clique_factored(nodes, iterations=5, seed_ids=[99])
    assert {r["id"]: r["rank"] for r in ranks.collect()} == dict.fromkeys(ids, 0.0)



def _rank_forms(spark, iterations=3):
    """{form: seed_ids -> {id: rank}} for the edge walk, the lumped Spark
    form and the lumped Arrow form on the _ROUNDS_ROWS graph."""
    attrs = ("college", "board")
    nodes = _rounds_nodes(spark)
    edges = _clique_edges(nodes)
    table = pa.table(dict(zip(("id", *attrs), map(list, zip(*_ROUNDS_ROWS)))))

    def ranks(df):
        return {r["id"]: r["rank"] for r in df.collect()}

    def arrow(seed_ids):
        out = graphalgo._lumped_pagerank_arrow(
            table, attrs, iterations, graphalgo.DAMPING, seed_ids
        )
        return dict(zip(out["id"].to_pylist(), out["rank"].to_pylist()))

    return {
        "edge walk": lambda seed_ids: ranks(
            graphalgo.pagerank(nodes, edges, iterations, seed_ids=seed_ids)
        ),
        "lumped": lambda seed_ids: ranks(
            graphalgo.pagerank_clique_factored(
                nodes, attrs, iterations, seed_ids=seed_ids
            )
        ),
        "arrow": arrow,
    }


def test_ppr_repeated_seed_counts_once(spark):
    """PPR keeps Σrank = 1 (no node of this graph is isolated), and a seed
    id given twice is one seed: [1, 1] ranks exactly as [1]."""
    for form, run in _rank_forms(spark).items():
        once, twice = run([1]), run([1, 1])
        assert sum(twice.values()) == pytest.approx(1.0, rel=1e-12), form
        assert twice == pytest.approx(once, rel=1e-12), form


def test_ppr_seeded_with_every_node_is_pagerank_over_n(spark):
    """e = 1/N on every node scales the unseeded recurrence (e ≡ 1) by
    1/N, so the seeded and unseeded branches must agree: a wrong teleport
    term in either shows here, where ranks are not all equal."""
    ids = [r[0] for r in _ROUNDS_ROWS]
    for form, run in _rank_forms(spark).items():
        pr, ppr = run(None), run(ids)
        assert len(set(pr.values())) > 1, form
        want = {i: r / len(ids) for i, r in pr.items()}
        assert ppr == pytest.approx(want, rel=1e-12), form


# --- min_label_components degenerate incidences (r9 fused-round-1 pins) -------


_COLLECT_ROW_CAP = graphalgo._collect_row_cap


def _refuse(path):
    def run(*args):
        pytest.fail(f"{path} ran, but the other path was forced")

    return run


def _force_spark(monkeypatch):
    """No node snapshot on the driver: the registry's graph queries take
    their Spark forms."""
    monkeypatch.setattr(graphalgo, "node_snapshot_table", lambda spark, sf_dir: None)


def _force_loop(monkeypatch):
    """A zero row cap: every input is above one collect (the node snapshot
    too)."""
    _force_spark(monkeypatch)
    monkeypatch.setattr(graphalgo, "_collect_row_cap", lambda spark, width: 0)
    monkeypatch.setattr(
        graphalgo, "_components_on_driver", _refuse("_components_on_driver")
    )


def _force_driver(monkeypatch):
    """The session's maxResultSize fits every hand-built input here."""
    monkeypatch.setattr(graphalgo, "_components_loop", _refuse("_components_loop"))


def _components_once(spark, ids, inc_rows, max_iterations=20):
    node_ids = spark.createDataFrame([(i,) for i in ids], "id long")
    inc = spark.createDataFrame(
        inc_rows or [], "id long, gk string"
    )
    return {
        r["id"]: (r["component"], r["component_size"])
        for r in graphalgo.min_label_components(
            node_ids, inc, max_iterations
        ).collect()
    }


def _components(spark, ids, inc_rows, max_iterations=20):
    """min_label_components on both of its plans — the driver path and
    the forced loop — which must agree; returns that one result."""
    got = []
    for force in (_force_driver, _force_loop):
        with pytest.MonkeyPatch.context() as mp:
            force(mp)
            got.append(_components_once(spark, ids, inc_rows, max_iterations))
    assert got[0] == got[1]
    return got[0]


def test_components_all_singleton_groups(spark):
    """Every group has ONE member, so round 1 is already a fixpoint — the
    exact path the r9 fused first round short-circuits (no changed-count
    in round 1; round 2 must detect the no-op and stop). Every node stays
    its own component."""
    ids = [10, 20, 30]
    inc = [(10, "c:a"), (20, "c:b"), (30, "c:c")]
    assert _components(spark, ids, inc) == {
        10: (10, 1),
        20: (20, 1),
        30: (30, 1),
    }


def test_components_empty_incidence(spark):
    """No incidence rows at all (every attribute NULL): the left join in
    the fused round backfills every node with its own label."""
    assert _components(spark, [1, 2, 3], []) == {
        1: (1, 1),
        2: (2, 1),
        3: (3, 1),
    }


def test_components_two_groups_and_isolate(spark):
    """Two disjoint components linked through different group keys plus an
    isolated node; a chain (1-2 via g1, 2-3 via g2) needs label
    propagation BEYOND the fused first round to reach node 3."""
    ids = [1, 2, 3, 7, 8, 9]
    inc = [
        (1, "g1"), (2, "g1"),   # 1-2
        (2, "g2"), (3, "g2"),   # 2-3 → {1,2,3}
        (7, "g3"), (8, "g3"),   # {7,8}
        # 9 isolated
    ]
    assert _components(spark, ids, inc) == {
        1: (1, 3),
        2: (1, 3),
        3: (1, 3),
        7: (7, 2),
        8: (7, 2),
        9: (9, 1),
    }


def test_components_long_chain_converges(spark):
    """A 12-node path graph (worst diameter for min-label propagation):
    the label must walk the whole chain through repeated rounds — pins
    that the early-stop never fires before the true fixpoint."""
    n = 12
    ids = list(range(1, n + 1))
    inc = []
    for i in range(1, n):
        inc += [(i, f"e{i}"), (i + 1, f"e{i}")]
    got = _components(spark, ids, inc)
    assert got == {i: (1, n) for i in ids}


def _components_sql(ids, inc_rows, max_iterations):
    """The DuckDB mirror's unroll run on the same (node_ids, inc) input."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE nodes (id BIGINT)")
    con.execute("CREATE TABLE inc (id BIGINT, gk VARCHAR)")
    con.executemany("INSERT INTO nodes VALUES (?)", [(i,) for i in ids])
    if inc_rows:
        con.executemany("INSERT INTO inc VALUES (?, ?)", inc_rows)
    rows = con.execute(graphalgo.min_label_components_sql(max_iterations))
    return {i: (c, n) for i, c, n in rows.fetchall()}


def _min_label_reference(ids, inc_rows, applications):
    """Pure-Python f (group label = min member label, node label = least
    of its own and its groups' labels) applied exactly ``applications``
    times from label = id, then component sizes."""
    labels = {i: i for i in ids}
    for _ in range(applications):
        glabel: dict = {}
        for i, g in inc_rows:
            if i in labels:
                glabel[g] = min(glabel.get(g, labels[i]), labels[i])
        nxt = dict(labels)
        for i, g in inc_rows:
            if i in nxt and g in glabel:
                nxt[i] = min(nxt[i], glabel[g])
        labels = nxt
    sizes: dict = {}
    for c in labels.values():
        sizes[c] = sizes.get(c, 0) + 1
    return {i: (c, sizes[c]) for i, c in labels.items()}


def test_components_incidence_ids_outside_node_set(spark):
    """An incidence id that is not a node (1 here) must not seed a group
    label: the SQL mirror only ever labels ``nodes``, so component 1 is
    impossible and {2, 3} is component 2."""
    ids, inc = [2, 3], [(1, "g"), (2, "g"), (3, "g")]
    want = {2: (2, 2), 3: (2, 2)}
    assert _components_sql(ids, inc, 3) == want
    assert _components(spark, ids, inc, max_iterations=3) == want


def test_components_iteration_cap_is_not_a_fixpoint(spark):
    """12-node chain capped at 3 applications: the labels are f applied
    exactly 3 times (not the fixpoint — the homogeneity stop must not
    fire early), the same count the unrolled SQL applies."""
    n, cap = 12, 3
    ids = list(range(1, n + 1))
    inc = []
    for i in range(1, n):
        inc += [(i, f"e{i}"), (i + 1, f"e{i}")]
    want = _min_label_reference(ids, inc, cap)
    assert want != _min_label_reference(ids, inc, n)
    assert _components(spark, ids, inc, max_iterations=cap) == want
    assert _components_sql(ids, inc, cap) == want


def _min_at_reference(n_ids, member, group, max_iterations):
    """The form the segment reductions replaced: f applied with
    ``np.minimum.at`` / ``np.maximum.at`` over the unsorted incidence rows
    (member index, group code). A code no row carries keeps lo > hi, so
    holes never count as mixed groups. Labels are indices into the sorted
    ids."""
    label = np.arange(n_ids)

    def group_min_max():
        member_label = label[member]
        lo = np.full(group.max(initial=-1) + 1, n_ids)
        hi = np.full(len(lo), -1)
        np.minimum.at(lo, group, member_label)
        np.maximum.at(hi, group, member_label)
        return lo, hi

    lo, hi = group_min_max()
    applied = 0
    while (lo < hi).any() and applied < max_iterations:
        np.minimum.at(label, member, lo[group])
        applied += 1
        if applied < max_iterations:
            lo, hi = group_min_max()
    return label


def _random_incidence(rng):
    """(sorted ids, incidence rows as (member index, group code)): five
    components of random groups, some of one member, a few isolated nodes,
    duplicated rows, and group codes with holes (every third code only)."""
    ids = np.sort(rng.choice(10_000, size=80, replace=False))
    block = rng.integers(0, 5, size=len(ids))
    block[rng.choice(len(ids), size=6, replace=False)] = -1  # isolated
    rows, code = [], 0
    for b in range(5):
        nodes = np.flatnonzero(block == b)
        for _ in range(rng.integers(1, 12)):
            size = 1 if rng.random() < 0.3 else rng.integers(2, 6)
            for m in rng.choice(nodes, size=min(size, len(nodes)), replace=False):
                rows.append((m, code))
            code += 3
    rows += [rows[i] for i in rng.choice(len(rows), size=10)]  # duplicates
    rng.shuffle(rows)
    member, group = (np.array(c, dtype=np.int64) for c in zip(*rows))
    return ids, member, group


@pytest.mark.parametrize("seed", range(4))
def test_components_core_on_random_incidences(seed):
    """The CSR segment-reduction core equals the ``np.minimum.at`` form it
    replaced and the DuckDB unroll, for the fixpoint and for truncated
    runs (1, 2, 3 applications), on inputs the single-component fixtures
    never reach."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    ids, member, group = _random_incidence(rng)
    node_pos = rng.permutation(len(ids))  # output rows in no id order
    inc = graphalgo._incidence(ids, node_pos, member, group, pa.int64())
    inc_rows = [(int(ids[m]), f"g{g}") for m, g in zip(member, group)]
    for max_iterations in (1, 2, 3, 20):
        got = graphalgo._min_labels(inc, max_iterations).to_pylist()
        label = _min_at_reference(len(ids), member, group, max_iterations)
        sizes = np.bincount(label, minlength=len(ids))
        want = {int(ids[i]): (int(ids[label[i]]), int(sizes[label[i]]))
                for i in range(len(ids))}
        assert [r["id"] for r in got] == [int(i) for i in ids[node_pos]]
        assert {r["id"]: (r["component"], r["component_size"]) for r in got} == want
        assert _components_sql([int(i) for i in ids], inc_rows, max_iterations) == want
    assert len({c for c, _ in want.values()}) >= 5 + 6


def test_snapshot_components_drop_null_and_empty_values():
    """On a snapshot-shaped table, NULL and '' attribute values join no
    group (their codes leave holes in the group codes), as the DuckDB
    incidence's ``IS NOT NULL AND <> ''`` filter has it."""
    import pyarrow as pa

    from graphdb_neo4j_spark.sources.tpch import ARROW_NODE_SCHEMA

    rng = np.random.default_rng(5)
    values = [None, "", "a", "b", "c"]
    rows = [
        {"id": int(i), "name": f"n{i}", "address": rng.choice(values + [None] * 6),
         "college": rng.choice(values + [None] * 3), "board": rng.choice(values[:3]),
         "stream": None,
         "interests": [str(t) for t in rng.choice(40, size=rng.integers(0, 3))]}
        for i in rng.choice(1000, size=60, replace=False)
    ]
    tab = pa.Table.from_pylist(rows, schema=ARROW_NODE_SCHEMA)
    inc_rows = [
        (r["id"], f"{attr}:{r[attr]}")
        for r in rows
        for attr in ("college", "board", "stream", "address")
        if r[attr]
    ] + [(r["id"], f"i:{t}") for r in rows for t in r["interests"]]
    ids = [r["id"] for r in rows]
    for max_iterations in (1, 2, 3, 20):
        got = graphalgo._snapshot_components(tab, max_iterations).to_pylist()
        assert [r["id"] for r in got] == ids
        assert {r["id"]: (r["component"], r["component_size"]) for r in got} == (
            _components_sql(ids, inc_rows, max_iterations)
        ) == _min_label_reference(ids, inc_rows, max_iterations)


def test_graph_components_shuffle_join_branch(spark, sf_dir, monkeypatch):
    """With broadcasting disabled the loop keeps shuffle joins and still
    returns the union-find components (the loop is forced: this input
    fits one collect)."""
    _force_loop(monkeypatch)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        assert not graphalgo._broadcast_fits(spark, 1, 1)
        test_graph_components_matches_union_find(spark, sf_dir)
    finally:
        spark.conf.set(key, old)
    assert graphalgo._broadcast_fits(spark, 1, 1)


def test_component_incidence_keys_attribute_and_value(spark):
    """A college and a board sharing the value 'x' are two groups, and the
    interest with part key 1 is not the attribute group keyed −1: the
    long keys are exact, so nothing merges that shares no group."""
    nodes = spark.createDataFrame(
        [
            (1, "a1", "x", "y", "s1"),
            (2, "a2", "z", "x", "s2"),
            (3, "a3", "x", "w", "s3"),
            (4, "a4", None, "", "s4"),
            (5, "a5", "q", "r", "s5"),
        ],
        "id long, address string, college string, board string, stream string",
    )
    interests = spark.createDataFrame(
        [(4, "1"), (5, "1"), (4, "1")], "id long, interest string"
    )
    inc = graphalgo.component_incidence(nodes, interests)
    assert inc.filter("gk < 0").select("gk").distinct().count() == 17
    got = {
        r["id"]: (r["component"], r["component_size"])
        for r in graphalgo.min_label_components(nodes.select("id"), inc, 20).collect()
    }
    assert got == {1: (1, 2), 3: (1, 2), 2: (2, 1), 4: (4, 2), 5: (4, 2)}


def _max_result_size(monkeypatch, value):
    """Make ``_collect_row_cap`` read ``spark.driver.maxResultSize`` =
    ``value`` (a core setting, fixed once the session starts)."""
    from types import SimpleNamespace

    conf = SimpleNamespace(get=lambda key, default: value)
    session = SimpleNamespace(sparkContext=SimpleNamespace(getConf=lambda: conf))
    monkeypatch.setattr(
        graphalgo,
        "_collect_row_cap",
        lambda spark, width: _COLLECT_ROW_CAP(session, width),
    )


def _path_spy(monkeypatch):
    """Records which of the two plans each min_label_components call ran."""
    ran = []
    for path in ("_components_on_driver", "_components_loop"):
        def spy(*args, _real=getattr(graphalgo, path), _path=path):
            ran.append(_path)
            return _real(*args)

        monkeypatch.setattr(graphalgo, path, spy)
    return ran


def test_components_fits_rule_boundary(spark, monkeypatch):
    """(node rows + incidence rows) × 16 B = maxResultSize takes the driver
    path; one row more (a duplicate incidence row, which changes no label)
    takes the loop, with the same output; 0 means unlimited."""
    ids = [1, 2, 3, 4, 5]
    inc = [(1, "a"), (2, "a"), (2, "b"), (3, "b"), (5, "c"), (9, "c")]
    rows = len(ids) + len(inc)
    want = _min_label_reference(ids, inc, 20)
    ran = _path_spy(monkeypatch)
    _max_result_size(monkeypatch, str(rows * 16))
    assert _components_once(spark, ids, inc) == want
    assert _components_once(spark, ids, inc + inc[:1]) == want
    _max_result_size(monkeypatch, "0")
    assert _components_once(spark, ids, inc + inc[:1]) == want
    assert ran == ["_components_on_driver", "_components_loop", "_components_on_driver"]


def test_collect_row_cap_reads_max_result_size(spark, monkeypatch):
    assert graphalgo._collect_row_cap(spark, 16) == (1 << 30) // 16  # Spark's 1g
    _max_result_size(monkeypatch, "2m")
    assert graphalgo._collect_row_cap(spark, 16) == (2 << 20) // 16
    _max_result_size(monkeypatch, "0")
    assert graphalgo._collect_row_cap(spark, 16) is None


def test_components_oversized_collect_takes_the_loop(spark, monkeypatch):
    """Spark's own abort of a collect over maxResultSize (the input fits by
    row count but its keys are wide) sends the input to the loop; any
    other collect failure propagates."""
    from py4j.protocol import Py4JJavaError

    ids, inc = [1, 2, 3], [(1, "a"), (2, "a"), (3, "b")]
    want = _min_label_reference(ids, inc, 20)
    frame = type(spark.range(1))
    ran = _path_spy(monkeypatch)

    def failing(message):
        def to_arrow(self):
            cause = spark.sparkContext._jvm.org.apache.spark.SparkException(message)
            raise Py4JJavaError("An error occurred while calling getResult.\n", cause)

        return to_arrow

    monkeypatch.setattr(frame, "toArrow", failing(
        "Total size of serialized results of 1 tasks (1049.2 KiB) is "
        "bigger than spark.driver.maxResultSize (1024.0 KiB)"
    ))
    assert _components_once(spark, ids, inc) == want
    assert ran == ["_components_loop"]

    monkeypatch.setattr(frame, "toArrow", failing("disk on fire"))
    with pytest.raises(Py4JJavaError, match="disk on fire"):
        _components_once(spark, ids, inc)


def _descriptions_during(spark, monkeypatch, fn):
    """The job descriptions ``fn`` sets, asserting that the caller's
    description is back afterwards."""
    sc = spark.sparkContext
    seen = []
    real = sc.setJobDescription

    def record(value):
        seen.append(value)
        real(value)

    monkeypatch.setattr(sc, "setJobDescription", record)
    sc.setLocalProperty("spark.job.description", "caller")
    try:
        fn()
        assert sc.getLocalProperty("spark.job.description") == "caller"
    finally:
        sc.setLocalProperty("spark.job.description", None)
    return [v for v in seen if v != "caller"]


def test_components_label_their_jobs_and_restore_the_description(
    spark, monkeypatch
):
    """The driver path's jobs are labelled ``collect``, the loop's
    ``round=k`` (the collect that found the input too big comes first);
    the caller's description is back afterwards."""
    # a 3-chain: two applications, then the stop
    seen = _descriptions_during(
        spark,
        monkeypatch,
        lambda: _components(
            spark, [1, 2, 3], [(1, "a"), (2, "a"), (2, "b"), (3, "b")]
        ),
    )
    assert seen == [
        "min_label_components/collect",
        "min_label_components/collect",
        "min_label_components/round=0",
        "min_label_components/round=1",
        "min_label_components/round=2",
    ]


def test_lumped_pagerank_labels_its_collect_and_restores_the_description(
    spark, monkeypatch
):
    """The class-table collect is labelled; the caller's description is
    back afterwards."""
    nodes = _rounds_nodes(spark)
    seen = _descriptions_during(
        spark,
        monkeypatch,
        lambda: graphalgo.pagerank_clique_factored(nodes, iterations=3).collect(),
    )
    assert seen == ["lumped_pagerank/classes"]


def test_graph_components_collect_reads_part_keys_as_longs(
    spark, sf_dir, monkeypatch
):
    """On the Spark path, components key interests by the long part key:
    the collected input never casts ``l_partkey`` to a string (and
    back)."""
    import re

    _force_spark(monkeypatch)
    frame = type(spark.range(1))
    real, plans = frame.toArrow, []

    def spy(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return real(self)

    monkeypatch.setattr(frame, "toArrow", spy)
    graphalgo.q_graph_components(spark, sf_dir).collect()
    assert len(plans) == 1 and "l_partkey" in plans[0]
    assert not re.search(r"cast\(l_partkey#\d+L? as string\)", plans[0]), plans[0]


def test_graph_components_warm_job_budget(spark, sf_dir, monkeypatch):
    """Warm, the whole call, collect included, starts no Spark job on the
    snapshot's Arrow generation, and stays a handful of jobs on the Spark
    path: the per-round loop cannot quietly return for an input of this
    size."""
    from tests.test_load_table import _jobs_of

    def run():
        graphalgo.q_graph_components(spark, sf_dir).collect()

    run()  # warm
    assert _jobs_of(spark, run, "budget_graph_components_arrow") == []
    _force_spark(monkeypatch)
    run()
    jobs = _jobs_of(spark, run, "budget_graph_components")
    assert 0 < len(jobs) <= 10, len(jobs)


def test_factored_pagerank_non_nested_pair_equals_edge_walk(spark, sf_dir):
    """(college, stream) is not nested (a college spans several streams),
    so classes differ in size and rank: unlike (college, board) on these
    fixtures, the edge-walk equality sees the class count k and the PPR
    seed share."""
    from graphdb_neo4j_spark.operators.edges import derive_attribute_edges
    from graphdb_neo4j_spark.sources.tpch import customer_nodes

    attrs = ("college", "stream")
    nodes = customer_nodes(spark, sf_dir)
    edges = derive_attribute_edges(nodes, "college", "SAME_COLLEGE").unionByName(
        derive_attribute_edges(nodes, "stream", "SAME_STREAM")
    ).select("src", "dst")
    _assert_same_ranks(
        graphalgo.pagerank_clique_factored(nodes, attrs),
        graphalgo.pagerank(nodes, edges),
    )
    seeds = [graphalgo.PPR_SEED_ID, 42]
    _assert_same_ranks(
        graphalgo.pagerank_clique_factored(nodes, attrs, seed_ids=seeds),
        graphalgo.pagerank(nodes, edges, seed_ids=seeds),
    )
