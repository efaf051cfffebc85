"""Incremental continuous-aggregate maintenance — the streaming half of
the hypertable-rollup pattern.

``operators/events.q_hourly_rollup_serve`` shows the SERVING side
(materialized rollup ∪ fresh tail). This module maintains the
materialized side incrementally: a Structured Streaming job folds each
micro-batch's PARTIAL hourly aggregates into a day-partitioned parquet
rollup store via ``foreachBatch``, rewriting only the day partitions the
batch touches (dynamic partition overwrite — the parquet-native stand-in
for a Delta ``MERGE INTO``; the gated Delta path in
``operators/merge_delta.py`` is the transactional upgrade).

Why this shape at 100 TB: count/sum are MERGEABLE, so each micro-batch
contributes a tiny (hour × type) partial and the store update is
O(touched days), never O(store). No watermark-finalization dependence
(append-mode window aggs only emit closed windows — a bounded backfill
would strand its last hours); re-aggregating (hour, type) keys on merge
makes the maintainer idempotent per batch content and correct under any
batch split of the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from graphdb_neo4j_spark.streaming.events_stream import stream_events
from graphdb_neo4j_spark.session import materialize

_KEY = ("window_start", "event_type")


class _stream_width:
    """Set the micro-batch shuffle width for one maintenance run and
    restore the session conf after the drain (r14 — the
    ``run_available_now`` discipline: streaming shuffles get no AQE
    coalescing, and the foreachBatch merge work inherits the same conf;
    the width is source-derived, so production backlogs keep full
    parallelism).

    Serial only: ``spark.sql.shuffle.partitions`` is session-global, so
    overlapping runs on one session (this or ``run_available_now``) race
    on the set/restore and can leave the narrowed width behind."""

    KEY = "spark.sql.shuffle.partitions"

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY)
        if self.n:
            self.spark.conf.set(self.KEY, str(self.n))

    def __exit__(self, *exc):
        if self.n:
            self.spark.conf.set(self.KEY, self.prev)
        return False


def _hourly_partials(batch: DataFrame) -> DataFrame:
    """Mergeable per-batch partials: exact decimal sums, day column for
    partition routing."""
    return (
        batch.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value_dec",
            F.date_format("w.start", "yyyy-MM-dd").alias("d"),
        )
    )


def merge_rollup_batch(store_path: str):
    """foreachBatch hook: fold one micro-batch into the rollup store.

    Reads back ONLY the store partitions for days present in the batch
    (directory pruning via the partition column), re-aggregates the
    union on (window_start, event_type), and dynamic-partition-overwrites
    just those days. Late data is handled by construction — a late event
    lands in an old day, that day's partition gets re-merged.
    """

    def _fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        partial = _hourly_partials(batch)
        days = [r["d"] for r in partial.select("d").distinct().collect()]
        if not days:
            return
        from pyspark.errors import AnalysisException

        try:
            # localCheckpoint(eager) materializes the read-back slice and
            # cuts its lineage to the store files — required because the
            # write below overwrites the very path being read (Spark
            # rejects a self-overwrite with live file lineage), and it is
            # tiny (touched days × hours × types rows).
            existing = (
                spark.read.parquet(store_path)
                .filter(F.col("d").cast("string").isin(days))
                .select(
                    "window_start",
                    "event_type",
                    "n",
                    "sum_value_dec",
                    # partition-column inference reads d= back as DATE;
                    # normalize to the partials' string form for the union
                    F.col("d").cast("string").alias("d"),
                )
                .transform(materialize, eager=True)
            )
            merged_in = partial.unionByName(existing)
        except AnalysisException:  # first batch: store does not exist yet
            merged_in = partial
        merged = (
            merged_in.groupBy("window_start", "event_type", "d")
            .agg(
                F.sum("n").alias("n"),
                F.sum("sum_value_dec").alias("sum_value_dec"),
            )
        )
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("d")
            .parquet(store_path)
        )

    return _fn


def maintain_hourly_rollup(
    spark: SparkSession,
    events_stream_df: DataFrame,
    store_path: str,
    timeout_s: int = 120,
    shuffle_partitions: int | None = None,
) -> None:
    """Drain the (bounded) event stream into the rollup store with
    ``availableNow`` — the backfill/catch-up invocation of the continuous
    job; in production the same call runs unbounded with a processing-time
    trigger."""
    with _stream_width(spark, shuffle_partitions):
        q = (
            events_stream_df.writeStream.foreachBatch(
                merge_rollup_batch(store_path)
            )
            .option(
                "checkpointLocation", f"{store_path}/_checkpoint"
            )
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_s)
        finally:
            q.stop()
    if not finished:
        raise TimeoutError(f"rollup maintenance did not drain within {timeout_s}s")


def read_hourly_rollup(spark: SparkSession, store_path: str) -> DataFrame:
    """Serve the maintained rollup in the batch hourly schema (exact
    decimal partials cast to double only here — the maintained store must
    hash-match the one-shot batch aggregation)."""
    return spark.read.parquet(store_path).select(
        "window_start",
        "event_type",
        "n",
        F.col("sum_value_dec").cast("double").alias("sum_value"),
    )


def q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form: maintain a fresh store from the bounded fixture,
    then serve it. Oracle = the batch hourly SQL — the incremental
    maintenance must be invisible in the answer."""
    import tempfile

    store = tempfile.mkdtemp(prefix="rollup_store_")
    maintain_hourly_rollup(spark, stream_events(spark, sf_dir), store)
    return read_hourly_rollup(spark, store)


# --- incrementally-maintained daily counts → streaming anomaly serving -------


def _daily_partials(batch: DataFrame) -> DataFrame:
    return (
        batch.groupBy("event_type", F.to_date("ts").alias("d0"))
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            "n",
            F.date_format("d0", "yyyy-MM-dd").alias("d"),
        )
    )


def merge_daily_batch(store_path: str):
    """foreachBatch hook for the daily-count store — same fold discipline
    as :func:`merge_rollup_batch` (read back ONLY touched days, sum-merge
    on the key, dynamic-partition-overwrite those days)."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        partial = _daily_partials(batch)
        days = [r["d"] for r in partial.select("d").distinct().collect()]
        if not days:
            return
        from pyspark.errors import AnalysisException

        try:
            existing = (
                spark.read.parquet(store_path)
                .filter(F.col("d").cast("string").isin(days))
                .select(
                    "event_type", "n", F.col("d").cast("string").alias("d")
                )
                .transform(materialize, eager=True)  # cut lineage before self-overwrite
            )
            merged_in = partial.unionByName(existing)
        except AnalysisException:
            merged_in = partial
        (
            merged_in.groupBy("event_type", "d")
            .agg(F.sum("n").alias("n"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("d")
            .parquet(store_path)
        )

    return _fn


def maintain_daily_counts(
    spark: SparkSession,
    events_stream_df: DataFrame,
    store_path: str,
    timeout_s: int = 120,
    shuffle_partitions: int | None = None,
) -> None:
    """Drain the (bounded) event stream into the daily-count store."""
    with _stream_width(spark, shuffle_partitions):
        q = (
            events_stream_df.writeStream.foreachBatch(
                merge_daily_batch(store_path)
            )
            .option("checkpointLocation", f"{store_path}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_s)
        finally:
            q.stop()
    if not finished:
        raise TimeoutError(f"daily maintenance did not drain within {timeout_s}s")


def q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``events_anomaly``: the daily counts are
    MAINTAINED incrementally (mergeable partials, O(touched days) per
    batch); the z-score detector then runs over the tiny maintained
    table at serve time. This is the production monitoring shape — the
    raw event firehose is touched once per micro-batch, never re-scanned
    per anomaly query. Oracle = the batch anomaly SQL: maintenance must
    be invisible in the answer."""
    import tempfile

    from graphdb_neo4j_spark.operators.events import anomaly_from_daily

    store = tempfile.mkdtemp(prefix="daily_store_")
    maintain_daily_counts(spark, stream_events(spark, sf_dir), store)
    daily = spark.read.parquet(store).select(
        "event_type", F.col("d").cast("date").alias("d"), "n"
    )
    return anomaly_from_daily(daily)


# --- incrementally-maintained session store ----------------------------------
#
# The hard continuous aggregate: sessions STRADDLE micro-batches (a user
# active across a batch boundary must get ONE session, and a late batch
# can even fuse two previously-separate sessions). The store keeps one
# row per (user, session interval); each batch sessionizes ITSELF at
# event level, then the store fold merges intervals per user with the
# same gap rule. Interval merging is exact: two mini-sessions chain in
# the merged event stream iff their intervals overlap or sit within the
# gap (events inside a valid session are never more than a gap apart, so
# an overlap always yields a bridging pair) — pinned by the
# two-generation pytest against the batch answer.

SESSION_BUCKETS = 32  # store partition key: pmod(user_id, SESSION_BUCKETS)


def merge_session_intervals(
    intervals: DataFrame, gap_minutes: int
) -> DataFrame:
    """Fuse per-user session intervals under the gap rule: sort by start,
    break when start − running-max(end) exceeds the gap (running max
    handles nested/overlapping intervals), re-aggregate. Windows run per
    user over a handful of interval rows — never over events."""
    gap_ms = gap_minutes * 60 * 1000
    w = Window.partitionBy("user_id").orderBy("start_ms", "end_ms")
    prev_end = F.max("end_ms").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    is_new = F.when(F.col("start_ms") - prev_end > gap_ms, 1).otherwise(0)
    grp = F.sum(is_new).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        intervals.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("start_ms").alias("start_ms"),
            F.max("end_ms").alias("end_ms"),
            F.sum("n_events").alias("n_events"),
        )
        .drop("grp")
    )


def merge_sessions_batch(store_path: str, gap_minutes: int):
    """foreachBatch hook: event-level sessionize THIS batch, then fold the
    mini-session intervals into the store (read back only the touched
    user buckets, interval-merge per user, dynamic-overwrite those
    buckets)."""

    def _fn(batch: DataFrame, batch_id: int) -> None:
        from graphdb_neo4j_spark.operators.events import sessionize

        spark = batch.sparkSession
        mini = (
            sessionize(batch, gap_minutes)
            .groupBy("user_id", "session_id")
            .agg(
                F.min(F.unix_millis("ts")).alias("start_ms"),
                F.max(F.unix_millis("ts")).alias("end_ms"),
                F.count("*").alias("n_events"),
            )
            .drop("session_id")
            .withColumn("bucket", F.pmod("user_id", F.lit(SESSION_BUCKETS)))
        )
        buckets = [r["bucket"] for r in mini.select("bucket").distinct().collect()]
        if not buckets:
            return
        from pyspark.errors import AnalysisException

        try:
            existing = (
                spark.read.parquet(store_path)
                .filter(F.col("bucket").isin(buckets))
                .select("user_id", "start_ms", "end_ms", "n_events", "bucket")
                .transform(materialize, eager=True)  # cut lineage before self-overwrite
            )
            merged_in = mini.unionByName(existing)
        except AnalysisException:
            merged_in = mini
        merged = merge_session_intervals(
            merged_in.drop("bucket"), gap_minutes
        ).withColumn("bucket", F.pmod("user_id", F.lit(SESSION_BUCKETS)))
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(store_path)
        )

    return _fn


def maintain_sessions(
    spark: SparkSession,
    events_stream_df: DataFrame,
    store_path: str,
    gap_minutes: int | None = None,
    timeout_s: int = 120,
    shuffle_partitions: int | None = None,
) -> None:
    """Drain the (bounded) event stream into the session store."""
    from graphdb_neo4j_spark.operators.events import SESSION_GAP_MIN

    gap = SESSION_GAP_MIN if gap_minutes is None else gap_minutes
    with _stream_width(spark, shuffle_partitions):
        q = (
            events_stream_df.writeStream.foreachBatch(
                merge_sessions_batch(store_path, gap)
            )
            .option("checkpointLocation", f"{store_path}/_checkpoint")
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_s)
        finally:
            q.stop()
    if not finished:
        raise TimeoutError(f"session maintenance did not drain within {timeout_s}s")


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of ``sessionize``: per-user session stats served
    from the incrementally-maintained interval store. Oracle = the batch
    sessionize SQL — batch boundaries must be invisible, including
    sessions that straddle (or are FUSED by) later batches."""
    import tempfile

    store = tempfile.mkdtemp(prefix="session_store_")
    maintain_sessions(spark, stream_events(spark, sf_dir), store)
    return (
        spark.read.parquet(store)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_session_events"),
        )
    )
