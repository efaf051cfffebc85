"""sources.tpch.node_snapshot: the node table is persisted once per source
version, committed through the generation-store protocol, and read back
without a Spark job."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from graphdb_neo4j_spark.api import GraphService
from graphdb_neo4j_spark.llmdata.genstore import COMMITTED, generation_dirs
from graphdb_neo4j_spark.sources.tpch import (
    NODE_SCHEMA,
    SNAPSHOT_SOURCES,
    SNAPSHOT_STORE,
    full_nodes,
    node_snapshot,
    node_snapshot_table,
    snapshot_location,
)
from tests.test_api import _force_spark
from tests.test_load_table import _jobs_of


@pytest.fixture
def src(spark, sf_dir, tmp_path):
    """A private, writable copy of the five tables the nodes derive from;
    its snapshot store is removed afterwards."""
    for t in SNAPSHOT_SOURCES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", tmp_path / f"{t}.parquet")
    store, _ = snapshot_location(spark, str(tmp_path))
    yield str(tmp_path)
    shutil.rmtree(store, ignore_errors=True)


def _rows(df):
    return sorted(
        (r["id"], r["name"], r["address"], r["college"], r["board"], r["stream"],
         tuple(sorted(r["interests"])))
        for r in df.collect()
    )


def _gen_dir(spark, src):
    store, gen = snapshot_location(spark, src)
    return store, os.path.join(store, f"generation={gen}")


def _rewrite(src, table):
    """Rewrite a source table at the same path: customer names change, or
    half the lineitems go."""
    path = f"{src}/{table}.parquet"
    t = pq.read_table(path)
    if table == "customer":
        names = pa.array([f"renamed#{k}" for k in t.column("c_custkey").to_pylist()])
        t = t.set_column(t.schema.get_field_index("c_name"), "c_name", names)
    else:
        t = t.slice(0, t.num_rows // 2)
    pq.write_table(t, path)


@pytest.mark.parametrize("table", ["customer", "lineitem"])
def test_rewritten_source_table_rebuilds_the_snapshot(spark, src, table):
    first = _rows(node_snapshot(spark, src))
    assert first == _rows(full_nodes(spark, src))
    _rewrite(src, table)
    got = _rows(node_snapshot(spark, src))
    assert got != first
    assert got == _rows(full_nodes(spark, src))


def test_generation_without_marker_is_never_read(spark, src):
    want = _rows(node_snapshot(spark, src))
    _, gen_dir = _gen_dir(spark, src)
    os.remove(os.path.join(gen_dir, COMMITTED))
    # wrong rows in the unmarked dir: reading it would return them
    spark.createDataFrame(
        [(1, "wrong", "", "", "", "", [])], NODE_SCHEMA
    ).write.mode("overwrite").parquet(gen_dir)
    assert _rows(node_snapshot(spark, src)) == want
    assert os.path.exists(os.path.join(gen_dir, COMMITTED))


def test_second_service_on_unchanged_sources_builds_nothing(spark, src):
    store, gen_dir = _gen_dir(spark, src)
    GraphService(spark, src)
    assert not os.path.exists(store)  # construction neither builds nor probes
    assert GraphService(spark, src).get_student_by_id(1) is not None
    meta = os.path.join(store, SNAPSHOT_STORE.meta_name)
    stamp = os.stat(meta).st_mtime_ns, sorted(os.listdir(gen_dir))

    assert _jobs_of(spark, lambda: node_snapshot(spark, src), "ns_resolve") == []
    second = GraphService(spark, src)
    jobs = _jobs_of(spark, lambda: second.get_student_by_id(1), "ns_second")
    assert jobs == []  # the point read runs on the driver-side table, no build
    with pytest.MonkeyPatch.context() as mp:
        _force_spark(mp)
        third = GraphService(spark, src)
        jobs = _jobs_of(spark, lambda: third.get_student_by_id(1), "ns_third")
    assert len(jobs) == 1  # the point read, no build
    assert (os.stat(meta).st_mtime_ns, sorted(os.listdir(gen_dir))) == stamp


def test_superseded_generation_is_swept_after_commit(spark, src, sf_dir):
    node_snapshot(spark, sf_dir)  # another source's store
    other, _ = snapshot_location(spark, sf_dir)
    node_snapshot(spark, src).count()
    store, old = _gen_dir(spark, src)

    # a failed build commits nothing and sweeps nothing
    good = open(f"{src}/customer.parquet", "rb").read()
    with open(f"{src}/customer.parquet", "wb") as f:
        f.write(b"not parquet")
    with pytest.raises(Exception):
        node_snapshot(spark, src).count()
    assert os.path.exists(os.path.join(old, COMMITTED))

    with open(f"{src}/customer.parquet", "wb") as f:
        f.write(good)
    _rewrite(src, "customer")
    assert node_snapshot(spark, src).filter(F.col("id") == 1).first()["name"] == "renamed#1"
    _, new = _gen_dir(spark, src)
    meta = SNAPSHOT_STORE.load(store)
    assert meta["active"] == [os.path.basename(new).split("=", 1)[1]]
    assert list(generation_dirs(store).values()) == [new]
    assert os.path.isdir(other)


def test_without_a_local_warehouse_reads_the_raw_derivation(spark, src, monkeypatch):
    from graphdb_neo4j_spark.sources import tpch

    monkeypatch.setattr(tpch, "_snapshot_root", lambda spark: None)
    assert snapshot_location(spark, src) is None
    assert _rows(node_snapshot(spark, src)) == _rows(full_nodes(spark, src))
    assert node_snapshot_table(spark, src) is None
    monkeypatch.undo()
    store, _ = snapshot_location(spark, src)
    assert not os.path.exists(store)


# --- the driver-side table of a generation ----------------------------------


def _table_rows(table):
    return sorted(
        (r["id"], r["name"], r["address"], r["college"], r["board"], r["stream"],
         tuple(sorted(r["interests"])))
        for r in table.to_pylist()
    )


def test_snapshot_table_follows_the_active_generation(spark, src):
    """The table holds the snapshot's rows, is read once per generation,
    and a rewritten source serves the new generation's rows only."""
    from graphdb_neo4j_spark.sources import tpch

    table = node_snapshot_table(spark, src)
    assert _table_rows(table) == _rows(node_snapshot(spark, src))
    assert node_snapshot_table(spark, src) is table
    _rewrite(src, "customer")
    renamed = node_snapshot_table(spark, src)
    assert _table_rows(renamed) == _rows(full_nodes(spark, src))
    store, gen_dir = _gen_dir(spark, src)
    assert tpch._SNAPSHOT_TABLES[store][0] == gen_dir  # the latest generation only


def test_snapshot_table_size_rule(spark, src, monkeypatch):
    """Served from Arrow iff the generation's uncompressed footer bytes are
    at most the driver's result cap; None (unlimited) always fits."""
    from graphdb_neo4j_spark.sources import tpch

    node_snapshot(spark, src)
    _, gen_dir = _gen_dir(spark, src)
    size = 0
    for f in os.listdir(gen_dir):
        if f.endswith(".parquet"):
            meta = pq.read_metadata(os.path.join(gen_dir, f))
            size += sum(meta.row_group(i).total_byte_size for i in range(meta.num_row_groups))
    for cap, fits in ((size, True), (size - 1, False), (None, True)):
        monkeypatch.setattr(tpch, "driver_result_cap", lambda spark, cap=cap: cap)
        monkeypatch.setattr(tpch, "_SNAPSHOT_TABLES", {})  # decided on first read
        assert (node_snapshot_table(spark, src) is not None) == fits, cap
