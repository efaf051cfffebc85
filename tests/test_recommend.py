"""Flagship recommendation query: smoke + oracle parity."""

from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators.recommend import recommend, recommend_oracle_sql
from graphdb_neo4j_spark.sources.tpch import node_snapshot
from tests.oracle_utils import assert_matches_oracle


def test_recommend_smoke(spark, sf_dir):
    df = recommend(node_snapshot(spark, sf_dir), anchor_id=1, limit=50)
    rows = df.collect()
    assert 0 < len(rows) <= 50
    # score must equal the sum of its parts and be positive
    for r in rows:
        assert r.score == r.same_college + r.same_board + r.same_stream + r.nearby + r.n_common
        assert r.score > 0
    # descending by score
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_recommend_excludes_anchor(spark, sf_dir):
    df = recommend(node_snapshot(spark, sf_dir), anchor_id=1, limit=None)
    assert df.filter(F.col("id") == 1).count() == 0


def test_recommend_matches_oracle(spark, sf_correct):
    df = recommend(node_snapshot(spark, sf_correct), anchor_id=1, limit=100)
    assert_matches_oracle(df, recommend_oracle_sql(1, 100), sf_correct)
