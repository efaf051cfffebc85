"""widen_scan / scan-partition estimator: the input-parallelism guard
every documents/embeddings query routes through. The estimator must be
metadata-only (no RDD conversion), widen genuinely narrow local scans,
and leave unknown or already-wide inputs untouched."""

from pyspark.sql import functions as F

from graphdb_neo4j_spark.session import (
    _estimated_scan_partitions,
    _parse_bytes_conf,
    widen_scan,
)


def test_parse_bytes_conf_forms():
    assert _parse_bytes_conf("134217728") == 128 << 20
    assert _parse_bytes_conf("134217728b") == 128 << 20
    assert _parse_bytes_conf("128m") == 128 << 20
    assert _parse_bytes_conf("128MB") == 128 << 20
    assert _parse_bytes_conf("1g") == 1 << 30
    assert _parse_bytes_conf("64k") == 64 << 10

def test_small_fixture_estimates_narrow(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # one small file → far fewer splits than defaultParallelism
    est = _estimated_scan_partitions(df)
    assert 1 <= est < spark.sparkContext.defaultParallelism


def test_widen_scan_widens_narrow_input(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    widened = widen_scan(df)
    assert (
        widened.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_widen_scan_leaves_derived_frames_alone(spark):
    # no input files (in-memory range) → unknown → untouched, no repartition
    df = spark.range(10)
    assert widen_scan(df) is df


def test_widen_scan_preserves_rows(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert widen_scan(df).count() == df.count()
    # keyed variant too
    assert widen_scan(df, "doc_id").count() == df.count()


# --- materialize(): the parameterized lineage-cut helper (r14) ---------------


def test_materialize_local_default_truncates_lineage(spark):
    from graphdb_neo4j_spark.session import materialize

    df = spark.range(100).select((F.col("id") * 2).alias("v"))
    out = df.transform(materialize)
    # logical plan collapses to a scan of the checkpointed RDD
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "Scan ExistingRDD" in plan
    assert out.count() == 100


def test_materialize_reliable_requires_dir(spark, monkeypatch):
    import pytest as _pytest

    from graphdb_neo4j_spark.session import materialize

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    # only fires when the session has no checkpoint dir yet — reset it
    if not spark.sparkContext._jsc.sc().getCheckpointDir().isEmpty():
        _pytest.skip("session already has a checkpoint dir")
    with _pytest.raises(ValueError, match="SPARK_GRAFT_CHECKPOINT_DIR"):
        spark.range(1).transform(materialize)


def test_materialize_reliable_mode(spark, tmp_path, monkeypatch):
    from graphdb_neo4j_spark.session import materialize

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ck"))
    df = spark.range(50).select((F.col("id") + 1).alias("v"))
    out = df.transform(materialize, eager=True)
    assert out.count() == 50
    # a reliable checkpoint actually landed in the configured directory
    import os

    ckroot = str(tmp_path / "ck")
    assert os.path.isdir(ckroot) and os.listdir(ckroot)


def test_materialize_rejects_unknown_mode(spark, monkeypatch):
    import pytest as _pytest

    from graphdb_neo4j_spark.session import materialize

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "bogus")
    with _pytest.raises(ValueError, match="bogus"):
        spark.range(1).transform(materialize)


def test_get_spark_rejects_typoed_materialize_mode(spark, monkeypatch):
    """A typo'd mode fails at session start, before any query work."""
    import pytest as _pytest

    from graphdb_neo4j_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_MATERIALIZE", "lcoal")
    with _pytest.raises(ValueError, match="'lcoal': expected 'local' or 'reliable'"):
        get_spark()
