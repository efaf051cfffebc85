"""Graph persistence — the parquet sink half of the source/sink contract.

The reference's store is Neo4j (writes happen inside MERGE/CREATE Cypher,
student_service.py:40-106); this engine's durable form is columnar files:

- nodes: plain parquet, optionally repartitioned by id range so point
  lookups prune row groups on the id min/max statistics.
- edges: parquet partitioned by ``type`` — every registered query that
  touches one edge type (the common case: one MATCH pattern = one type)
  reads exactly one directory, and partition pruning is visible in the
  scan (``PartitionFilters: [isnotnull(type), (type = SAME_COLLEGE)]``).
- table-format note: swap ``parquet`` for Delta/Iceberg to get S5 MERGE
  as a real ``MERGE INTO`` instead of the left-anti union
  (operators/edges.merge_edges); the layout contract stays identical.

Append mode is the S3/S4 write path (one small file per ingest batch —
compact periodically); overwrite is the S7 backfill.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from graphdb_neo4j_spark.graph import PropertyGraph


def write_nodes(
    nodes: DataFrame, path: str, mode: str = "overwrite", files: int | None = None
) -> None:
    """Persist the node table. ``files`` caps output file count (range-
    partitioned and sorted by id, so each file covers a contiguous id range
    → file and row-group pruning for point lookups)."""
    df = (
        nodes.repartitionByRange(files, "id").sortWithinPartitions("id")
        if files
        else nodes
    )
    df.write.mode(mode).parquet(path)


def write_edges(edges: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist edges partitioned by type (reads of one edge type prune to
    one directory)."""
    edges.write.mode(mode).partitionBy("type").parquet(path)


def write_graph(graph: PropertyGraph, base: str, mode: str = "overwrite") -> None:
    write_nodes(graph.nodes, f"{base}/nodes", mode=mode)
    write_edges(graph.edges, f"{base}/edges", mode=mode)


def read_graph(spark: SparkSession, base: str) -> PropertyGraph:
    """Load a persisted graph back; inverse of :func:`write_graph`."""
    return PropertyGraph(
        nodes=spark.read.parquet(f"{base}/nodes"),
        edges=spark.read.parquet(f"{base}/edges"),
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str | Sequence[str] = "doc_id",
    buckets: int = 8,
    mode: str = "overwrite",
) -> None:
    """Bucketed + sorted table write — the co-located-join layout.

    Both sides of a recurring key join (documents ↔ per-doc stats, nodes ↔
    edge endpoints) written with the SAME (key, bucket-count) spec join
    with ZERO shuffle: Spark's bucketing metadata proves both inputs are
    already hash-distributed on the key, so the Exchange disappears from
    the plan entirely (pytest-pinned in test_sink). At 100 TB this is the
    difference between a join that moves nothing and one that moves both
    tables; ``sortBy`` additionally makes each bucket merge-ready, so the
    sort before SortMergeJoin drops to a bounded merge.

    ``key`` may be a composite (r9): the edges table bucketed on its full
    MERGE key ``(src, dst, type)`` turns the idempotent-MERGE anti-join
    into a zero-exchange co-partitioned merge — measured 306 → 34 s on
    the 451M-row 10× edge set (PLANS.md round-9). The input is
    repartitioned onto the bucket key first so each bucket lands in ONE
    file (many small files per bucket otherwise: one per writer task).

    ``path`` makes the table EXTERNAL (files live at ``path``; only the
    bucketing metadata lives in the session catalog) — the durable layout
    is plain bucketed parquet, portable to any warehouse that reads the
    spec."""
    keys = [key] if isinstance(key, str) else list(key)
    (
        df.repartition(buckets, *keys)
        .write.mode(mode)
        .format("parquet")
        .option("path", path)
        .bucketBy(buckets, keys[0], *keys[1:])
        .sortBy(keys[0], *keys[1:])
        .saveAsTable(table)
    )


def append_ingest_batch(
    new_nodes: DataFrame, new_edges: DataFrame, base: str
) -> None:
    """S4 durable form: append the ingest batch's nodes and freshly derived
    edges (ids were allocated against the pre-append table, so the append
    is conflict-free by construction)."""
    write_nodes(new_nodes, f"{base}/nodes", mode="append")
    write_edges(new_edges, f"{base}/edges", mode="append")


# --- schema evolution across corpus generations ------------------------------


def read_evolving_corpus(spark, paths: list[str]):
    """Read parquet written across schema GENERATIONS (years of ingest
    accumulate added columns) as one DataFrame: ``mergeSchema`` unions the
    footers' schemas, and rows from generations that predate a column get
    NULL there — the standard additive-evolution contract.

    At 100 TB the alternative — rewriting history on every schema change —
    is a non-starter; additive evolution is free at read time because the
    merged schema is computed from footers, not data. RENAMED or
    RETYPED columns are NOT reconcilable this way (parquet matches by
    name): keep evolution additive, or migrate via an explicit rewrite.
    Guarded by ``test_sink`` (new column null-backfilled, old column
    values byte-identical, row counts additive).
    """
    return spark.read.option("mergeSchema", "true").parquet(*paths)
