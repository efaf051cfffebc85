"""Write-path invariants (S3/S4): batch id allocation, route-level
normalization, incremental edge derivation, MERGE idempotency."""

from pyspark.sql import functions as F

from graphdb_neo4j_spark.operators import ingest
from graphdb_neo4j_spark.operators.edges import merge_edges
from graphdb_neo4j_spark.sources.tpch import customer_nodes


def test_ids_are_dense_above_max(spark, sf_dir):
    nodes = customer_nodes(spark, sf_dir)
    max_id = nodes.agg(F.max("id")).collect()[0][0]
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    batch = ingest.allocate_ids(nodes, ingest.normalize_batch(new_raw))
    ids = sorted(r["id"] for r in batch.collect())
    assert ids == [max_id + 1, max_id + 2, max_id + 3]


def test_batch_normalization(spark):
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    rows = {r["name"]: r for r in ingest.normalize_batch(new_raw).collect()}
    assert "alice example" in rows  # trimmed + lowercased
    assert rows["alice example"]["college"] == "canada"
    assert rows["bob example"]["board"] == "asia"


def test_new_new_edges_derived(spark, sf_dir):
    """alice and carol share college/board/stream and interest '42';
    alice and bob share addr_5 — all five edge types must appear among
    the NEW ids."""
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    nodes_after, new_edges = ingest.ingest_students(spark, sf_dir, new_raw)
    max_existing = customer_nodes(spark, sf_dir).agg(F.max("id")).collect()[0][0]
    between_new = new_edges.filter(
        (F.col("src") > max_existing) & (F.col("dst") > max_existing)
    )
    types = {r["type"] for r in between_new.collect()}
    assert types == {
        "SAME_COLLEGE", "SAME_BOARD", "SAME_STREAM", "NEARBY", "SHARES_INTEREST"
    }
    # the SHARES_INTEREST edge carries the common list (A5 property)
    common = (
        between_new.filter(F.col("type") == "SHARES_INTEREST").collect()[0]["common"]
    )
    assert common == ["42"]


def test_part_key_pushdown_is_bounded(spark, sf_dir, monkeypatch):
    """Small token universes (a one-form onboard) push their part keys
    into the scan; past PART_KEY_PUSHDOWN_MAX keys the scan is unpruned."""
    calls = []
    real = ingest.customer_interest_pairs_raw

    def spy(spark, sf_dir, part_keys=None):
        calls.append(None if part_keys is None else sorted(part_keys))
        return real(spark, sf_dir, part_keys=part_keys)

    monkeypatch.setattr(ingest, "customer_interest_pairs_raw", spy)
    one_form = spark.createDataFrame(ingest.DEMO_STUDENTS[:1], ingest.DEMO_SCHEMA)
    ingest.ingest_students(spark, sf_dir, one_form)
    assert calls == [[42, 100]]

    wide = [str(i) for i in range(ingest.PART_KEY_PUSHDOWN_MAX + 1)]
    at_cap = ("Dan Example", "addr_1", "india", "asia", "machinery", wide[:-1])
    over_cap = ("Eve Example", "addr_1", "india", "asia", "machinery", wide)
    for row, want in ((at_cap, list(range(ingest.PART_KEY_PUSHDOWN_MAX))),
                      (over_cap, None)):
        calls.clear()
        raw = spark.createDataFrame([row], ingest.DEMO_SCHEMA)
        ingest.ingest_students(spark, sf_dir, raw)
        assert calls == [want]


def test_ingest_then_merge_is_idempotent(spark, sf_dir):
    new_raw = spark.createDataFrame(ingest.DEMO_STUDENTS, ingest.DEMO_SCHEMA)
    _, new_edges = ingest.ingest_students(spark, sf_dir, new_raw)
    merged = merge_edges(new_edges, new_edges)
    assert merged.count() == new_edges.count()


def test_create_node_appends_one_row(spark, sf_dir):
    nodes = customer_nodes(spark, sf_dir)
    row = spark.createDataFrame(
        [(999999, "zed user", "addr_0", "canada", "america", "building")],
        "id long, name string, address string, college string, board string, stream string",
    )
    assert ingest.create_node(nodes, row).count() == nodes.count() + 1
