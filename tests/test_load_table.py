"""sources.tpch.load_table: each table's parquet schema is resolved once per
file stamp, and every call still returns a fresh relation."""

from __future__ import annotations

import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from graphdb_neo4j_spark.sources.tpch import load_table


def _jobs_of(spark, fn, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_read_of_unchanged_table_submits_no_job(spark, sf_dir, tmp_path):
    shutil.copy(f"{sf_dir}/customer.parquet", tmp_path / "customer.parquet")
    first = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "customer"), "lt_first")
    second = _jobs_of(spark, lambda: load_table(spark, str(tmp_path), "customer"), "lt_second")
    assert first  # schema inference reads a footer in a Spark job
    assert second == []


def _write_arrow(path, cols):
    pq.write_table(pa.table(cols), path)


def _write_spark(spark, path, cols):
    spark.createDataFrame(list(zip(*cols.values())), list(cols)).write.mode(
        "overwrite"
    ).parquet(str(path))


def _write_part_in_place(path, cols):
    path.mkdir(exist_ok=True)
    _write_arrow(path / "part-0.parquet", cols)


@pytest.mark.parametrize("layout", ["file", "spark_directory", "part_in_place"])
def test_table_rewritten_at_same_path_is_read_with_new_schema(spark, tmp_path, layout):
    path = tmp_path / "region.parquet"
    old = {"r_regionkey": [0, 1], "r_name": ["a", "b"]}
    new = {"r_regionkey": [0, 1, 2], "r_name": ["a", "b", "c"], "r_comment": ["x", "y", "z"]}
    write = {
        "file": _write_arrow,
        "spark_directory": lambda p, c: _write_spark(spark, p, c),
        # the directory's own stat is unchanged; only its entry's stamp moves
        "part_in_place": _write_part_in_place,
    }[layout]
    write(path, old)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    write(path, new)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in df.collect()) == ["x", "y", "z"]


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    a = load_table(spark, sf_dir, "customer")
    b = load_table(spark, sf_dir, "customer")
    n = a.count()
    assert a.join(b, a.c_custkey == b.c_custkey).count() == n
    # Spark resolves that join even for one shared DataFrame, so also check
    # that each read is its own relation, with its own attribute ids
    def analyzed(df):
        return df._jdf.queryExecution().analyzed().toString()

    assert analyzed(a) != analyzed(b)


def test_inference_conf_change_is_read_with_new_schema(spark, tmp_path):
    _write_arrow(tmp_path / "part.parquet", {"p_partkey": [1], "p_name": pa.array([b"x"])})
    key = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert load_table(spark, str(tmp_path), "part").dtypes[1] == ("p_name", "binary")
        spark.conf.set(key, "true")
        assert load_table(spark, str(tmp_path), "part").dtypes[1] == ("p_name", "string")
    finally:
        spark.conf.set(key, before)
