"""Physical-plan shape guards — the properties PLANS.md documents, pinned
so a refactor can't silently regress them. These assert on the EXECUTED
plan string: pushdown reaching the scan, top-k planning as
TakeOrderedAndProject, broadcasts on the small sides, and the absence of
cartesian products / RDD conversions in registered query paths."""

import pytest

from graphdb_neo4j_spark.registry import queries


@pytest.fixture(scope="module")
def plan(spark, sf_dir):
    qs = queries()

    def get(name: str) -> str:
        return qs[name](spark, sf_dir)._jdf.queryExecution().executedPlan().toString()

    return get


def test_point_lookup_pushes_id_to_scan(plan):
    p = plan("point_lookup")
    assert "PushedFilters: [" in p
    assert "EqualTo(id,42)" in p, "literal id must reach the node-snapshot scan"


def test_projection_prunes_columns(plan):
    p = plan("node_names")
    # the customer scan must not read more than the projected columns
    assert "ReadSchema" in p
    scan_lines = [l for l in p.splitlines() if "FileScan" in l and "customer" in l]
    assert scan_lines and "c_acctbal" not in scan_lines[0]


def test_topk_queries_plan_take_ordered(plan):
    for name in ("top_acctbal", "knn_anchor", "fuzzy_search_lev"):
        assert "TakeOrderedAndProject" in plan(name), name


def test_recommend_scores_without_join_or_shuffle(plan):
    # the anchor is bound as literals after its point read: scoring is
    # scan → project → top-k
    p = plan("recommend_people")
    assert "TakeOrderedAndProject" in p
    for op in ("Join", "CartesianProduct", "Exchange"):
        assert op not in p, op


def test_edge_derivation_has_no_cartesian_product(plan):
    for name in ("edges_same_college", "edges_shares_interest"):
        p = plan(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name


def test_ann_adaptive_plan_has_no_cartesian(plan):
    # adaptive ann_search: on this fixture the guard routes to the exact
    # single-scan top-k — anchor inlined as literals, so there is no join
    # of any kind; top-k plans as TakeOrderedAndProject
    p = plan("ann_search")
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_contamination_broadcasts_benchmark(plan):
    p = plan("contamination")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_training_filter_joins_on_doc_id_no_nested_loop(plan):
    p = plan("training_filter")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_repetition_scores_no_sort_merge_or_cartesian(plan):
    p = plan("repetition_scores")
    assert "CartesianProduct" not in p
    assert "SortMergeJoin" not in p  # per-doc stats join via broadcast
    assert "BroadcastHashJoin" in p


def test_lsh_neardup_candidate_join_is_equi_join(plan):
    p = plan("lsh_neardup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
