"""Every registered query with an oracle must hash-match DuckDB at sf0.01 —
the in-repo mirror of the driver's correctness gate."""

import pytest

from graphdb_neo4j_spark.registry import all_queries
from tests.test_graphalgo import _force_spark
from tests.oracle_utils import assert_driver_canonicalizable, assert_matches_oracle

_QUERIES = all_queries()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(name, spark, sf_correct):
    rq = _QUERIES[name]
    df = rq.fn(spark, sf_correct)
    if rq.oracle is None:
        # rows-only contract: must run, return a stable schema, AND survive
        # the driver's pandas row canonicalization (no list-typed cells)
        assert df.columns
        assert_driver_canonicalizable(df)
        return
    assert_matches_oracle(df, rq.oracle, sf_correct)


# the queries that read the node snapshot's Arrow generation when it is on
# the driver; the sweep above checks that form
_SNAPSHOT_FORMS = ("graph_components", "pagerank_factored", "pagerank_ppr")


@pytest.mark.parametrize("name", _SNAPSHOT_FORMS)
def test_spark_form_matches_oracle(name, spark, sf_correct, monkeypatch):
    """The same queries with their Spark form forced (no snapshot on the
    driver), so both forms stay oracle-checked."""
    _force_spark(monkeypatch)
    rq = _QUERIES[name]
    assert_matches_oracle(rq.fn(spark, sf_correct), rq.oracle, sf_correct)
