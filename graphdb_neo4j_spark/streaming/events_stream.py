"""Streaming event analytics: readStream → windowed/stateful transforms →
writeStream, with ``availableNow`` runners for bounded verification.

Shapes and their batch twins (operators/events.py):

- :func:`hourly_stream`   — tumbling 1-hour window + watermark; twin of
  ``q_events_hourly``. Late data beyond the watermark is dropped at the
  state boundary — on the bounded fixture nothing is late, so the
  availableNow run must equal the batch result EXACTLY (pytest-checked).
- :func:`session_window_stream` — native ``session_window`` (gap-merged
  state windows); the streaming analog of the batch gaps-and-islands
  sessionizer.
- :func:`user_counts_stateful_stream` — custom per-key state via
  ``applyInPandasWithState`` (Arrow-batched, GroupState-backed): the
  extension point for operators Spark's built-ins can't express
  (counters, decaying aggregates, CEP-ish logic).

Scale notes: all state is keyed (event_type / user_id) and partitioned by
the shuffle on the grouping key; watermarks bound state size for the
window forms. The parquet source here is the test fixture — swap
``readStream.parquet`` for Kafka/files-on-arrival in production; every
transform below is source-agnostic.

Fixture-encoding robustness: the ``ts`` column has shipped as
TIMESTAMP(NANOS), plain ``timestamp[us]`` (TIMESTAMP_NTZ to Spark), and
TIMESTAMP across driver rounds. Streaming reads require an explicit
schema, so we take it from the parquet footer (one cheap batch
``spark.read`` — footer only, no data scan) instead of hardcoding an
encoding, then run the SAME ``normalize_ts`` the batch reader uses, so
both paths see identical timestamps whatever the file says.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from graphdb_neo4j_spark.operators.events import normalize_ts
from graphdb_neo4j_spark.session import adaptive_stream_shuffle_partitions
from graphdb_neo4j_spark.sources.tpch import load_table

SESSION_GAP = "30 minutes"


def events_stream_partitions(spark: SparkSession, sf_dir: str) -> int:
    """Micro-batch shuffle width for runs over the events fixture —
    derived from the source's scan splits (footer/metadata only; the
    batch frame is the same one the schema read uses). See
    :func:`~graphdb_neo4j_spark.session.adaptive_stream_shuffle_partitions`."""
    return adaptive_stream_shuffle_partitions(
        load_table(spark, sf_dir, "events")
    )


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read of the events fixture with ``ts`` as a proper
    timestamp, identical to operators/events.load_events for every
    observed fixture encoding (see module docstring)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")  # see load_events
    # The file source needs a schema up front; read it from the footer so
    # nanos-as-bigint / timestamp_ntz / timestamp fixtures all work.
    schema = load_table(spark, sf_dir, "events").schema
    ev = (
        spark.readStream.schema(schema)
        # file source requires a DIRECTORY; glob-filter to the events table
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_ts(ev)


def hourly_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling 1-hour × event_type counts/sums with a watermark bounding
    the window state."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def enrich_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """STREAM-STATIC dimension enrichment — the remaining join family
    next to the stream-stream interval join: each micro-batch joins the
    bounded dimension (broadcast — no stream-side state at all, unlike
    stream-stream joins), then aggregates per (segment, event_type).
    The planner re-resolves the static side per micro-batch, so a
    dimension refresh between batches is picked up — the cheap path for
    slowly-changing lookup data under streaming facts."""
    d = F.broadcast(
        dim.select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
        )
    )
    return (
        events.join(d, "user_id")
        .groupBy("segment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
    )


def q_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the stream-static enrichment — must equal the
    plain batch join + aggregate (the DuckDB oracle)."""
    ev = stream_events(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    return run_available_now(
        spark, enrich_stream(ev, dim), "stream_enrich_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


STREAM_ENRICH_SQL = """
SELECT c.c_mktsegment AS segment, e.event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


def hopping_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming hopping windows (1-hour length, 15-minute slide) —
    native ``F.window(ts, length, slide)`` under a watermark; state per
    (window, type) is the usual count/sum pair, windows finalize as the
    watermark passes their end (4 live windows per slide tier)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_stream_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the streaming hopping windows — must equal the
    batch q_events_hopping exactly on the bounded fixture (same oracle)."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, hopping_stream(ev), "stream_hopping_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


def session_window_stream(
    events: DataFrame, gap: str = SESSION_GAP, watermark: str = "2 hours"
) -> DataFrame:
    """Per-user session aggregation via the native session_window state
    operator (windows merge while events arrive within ``gap``)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
        )
    )


# --- custom stateful operator (applyInPandasWithState) ----------------------

_STATE_SCHEMA = "n bigint"
_COUNT_OUT_SCHEMA = "user_id bigint, n_events bigint"


def _count_events_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running per-user event count: state = one long; each micro-batch
    adds its rows and emits the updated total (output mode 'update')."""
    n = state.get[0] if state.exists else 0
    for pdf in batches:
        n += len(pdf)
    state.update((n,))
    yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})


def user_counts_stateful_stream(events: DataFrame) -> DataFrame:
    """Custom keyed state: per-user running event counts."""
    return events.groupBy("user_id").applyInPandasWithState(
        _count_events_fn,
        outputStructType=_COUNT_OUT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- transformWithState (the arbitrary-state API that succeeds
# applyInPandasWithState in Spark 4) ------------------------------------------


def user_counts_tws_stream(events: DataFrame) -> DataFrame:
    """Per-user running event counts on ``transformWithStateInPandas`` —
    the same operator as :func:`user_counts_stateful_stream` on the
    modern StatefulProcessor API (typed state handles, timers, TTL). Both
    forms are kept: applyInPandasWithState is the stable widely-deployed
    surface; this is where new state features land.

    Environment note: the TWS state protocol speaks protobuf between the
    JVM and the Python driver worker; containers without
    ``google.protobuf`` crash the worker at init
    (STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE). Checked here with a
    clear error; the parity test skips where the dependency is absent."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise ImportError(
            "transformWithStateInPandas requires the protobuf package "
            "(JVM↔Python state protocol); use user_counts_stateful_stream "
            "(applyInPandasWithState) in environments without it"
        ) from e
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    # transformWithState runs only on the RocksDB state store (the HDFS
    # default lacks the column-family support its typed state needs).
    events.sparkSession.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )

    class _CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._n = handle.getValueState("n", "n bigint")

        def handleInputRows(self, key, rows, timerValues):
            n = self._n.get()[0] if self._n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self._n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        _CountProcessor(),
        outputStructType=_COUNT_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


# --- streaming as-of join (stateful twin of operators/events.asof_join) ------
#
# The batch as-of join is a union + ordered window scan; streams can't sort
# globally, so the streaming twin keeps per-user state = a WATERMARK-DEEP
# BUFFER of right-side event times (plus the latest evicted right and the
# evicted count as two scalars) and enriches each left-side event as it
# arrives: prior = latest buffered-or-evicted right at-or-before the left's
# event time, n_prior = evicted count + buffered rights at-or-before. A
# right-side event that arrives LATE (behind rights already seen, in a
# later micro-batch) is merged into the buffer, so every SUBSEQUENT left
# matches the batch operator exactly — the earlier scalar-state form
# (latest right ts only) silently mis-joined those lefts to the late
# right even when a later one applied. Buffered rights at-or-before the
# watermark collapse to the two scalars (future lefts are younger than
# the watermark by definition — Spark drops older rows before the
# kernel), so state stays bounded by arrival rate × watermark depth,
# never stream length. Within a micro-batch the kernel drains all Arrow
# chunks of the group BEFORE enriching (group rows arrive across chunks
# in no time order — r6 fix; per-chunk enrichment missed rights in later
# chunks of the same batch). Residual (documented): left rows are
# enriched AT BATCH END and appended; a late right cannot retro-correct
# lefts emitted in EARLIER batches (that needs update-mode emission at
# watermark — the batch operator is the replay/repair path).
#
# events_cube has NO streaming twin by design: CUBE is a multi-grouping-set
# COMPLETE aggregation (every output row, including the grand total, keeps
# changing until the stream ends), which Structured Streaming's incremental
# model forbids for unbounded sources (grouping-set aggs are unsupported on
# streaming DataFrames). The streaming-native decomposition IS
# hourly_stream: emit finalized per-(window, type) cells under a watermark
# and roll marginals up downstream/at read time.

_ASOF_STATE_SCHEMA = (
    "rights_us array<bigint>, evicted_latest_us bigint, n_evicted bigint"
)
_ASOF_OUT_SCHEMA = (
    "event_id bigint, user_id bigint, ts_ms bigint, prior_ts_ms bigint,"
    " lag_ms bigint, n_prior bigint"
)
_ASOF_LEFT_TYPE = "click"
_ASOF_RIGHT_TYPE = "purchase"


def _make_asof_fn(left_type: str):
    """Bind the left-side label into the state kernel (the
    applyInPandasWithState signature has no parameter channel, so the
    kernel closes over it — anything not from the module namespace must
    be captured this way or a custom ``left_type`` silently mislabels)."""

    def _asof_fn(
        key: tuple[Any, ...],
        batches: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        """Per-user as-of state machine: drain EVERY Arrow chunk of the
        group first (a micro-batch's group rows are split across chunks
        in no time order, so a right in a later chunk must be visible to
        lefts in an earlier one — enriching chunk-by-chunk broke
        batch-equivalence exactly at the chunk boundary), merging right
        event times into the buffered (sorted) timeline and buffering
        the lefts; then binary-search each left's at-or-before position
        (``side='right'`` = the batch operator's right-wins-tie rule) in
        ONE vectorized pass and emit, then collapse rights at-or-before
        the watermark into the (latest, count) scalars. Buffered lefts
        are this group's rows for this micro-batch — bounded by the
        batch, not the stream."""
        import numpy as np

        if state.exists:
            rights_buf, evicted_latest, n_evicted = state.get
            rights = np.asarray(rights_buf, dtype="int64")
        else:
            rights, evicted_latest, n_evicted = (
                np.empty(0, dtype="int64"),
                None,
                0,
            )
        left_ids: list[np.ndarray] = []
        left_uss: list[np.ndarray] = []
        new_rights: list[np.ndarray] = []
        for pdf in batches:
            is_r = pdf["event_type"] != left_type
            # datetime64[ns] and datetime64[us] inputs both land on epoch-us
            us = pdf["ts"].astype("datetime64[us]").astype("int64")
            batch_rights = us[is_r].to_numpy(dtype="int64")
            if len(batch_rights):
                new_rights.append(batch_rights)
            left = ~is_r
            left_ids.append(pdf.loc[left, "event_id"].to_numpy())
            left_uss.append(us[left].to_numpy(dtype="int64"))
        if new_rights:
            rights = np.sort(np.concatenate([rights, *new_rights]))
        left_id = (
            np.concatenate(left_ids) if left_ids else np.empty(0, dtype="int64")
        )
        left_us = (
            np.concatenate(left_uss) if left_uss else np.empty(0, dtype="int64")
        )
        # rights at-or-before each left (equal ts counts: '>=' match)
        idx = np.searchsorted(rights, left_us, side="right")
        in_buf = idx > 0
        vals = np.zeros(len(idx), dtype="int64")
        vals[in_buf] = rights[idx[in_buf] - 1]
        if evicted_latest is None:
            prior_us = pd.array(vals, dtype="Int64")
            prior_us[~in_buf] = pd.NA
        else:
            vals[~in_buf] = evicted_latest
            prior_us = pd.array(vals, dtype="Int64")
        prior_ms = prior_us // 1000  # NA propagates: no right yet
        ts_ms = left_us // 1000
        yield pd.DataFrame(
            {
                "event_id": left_id,
                "user_id": key[0],
                "ts_ms": ts_ms,
                "prior_ts_ms": prior_ms,
                "lag_ms": ts_ms - prior_ms,
                "n_prior": n_evicted + idx,
            }
        )
        # rights at-or-before the watermark can never change again for
        # future lefts (Spark drops rows older than the watermark before
        # the kernel): fold them into two scalars, keep the rest buffered
        wm_us = 1000 * max(getattr(state, "getCurrentWatermarkMs", lambda: 0)(), 0)
        if wm_us and len(rights):
            cut = int(np.searchsorted(rights, wm_us, side="right"))
            if cut:
                evicted_latest = int(rights[cut - 1])
                n_evicted += cut
                rights = rights[cut:]
        state.update(([int(v) for v in rights], evicted_latest, n_evicted))

    return _asof_fn


def asof_stream(
    events: DataFrame,
    left_type: str = _ASOF_LEFT_TYPE,
    right_type: str = _ASOF_RIGHT_TYPE,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming as-of: each ``left_type`` event is enriched with the
    latest at-or-before ``right_type`` event of the same user (state =
    a watermark-deep buffer of right event times + 2 scalars per user;
    emissions append-only; late rights within the watermark join
    exactly — see the kernel comment block)."""
    filtered = events.withWatermark("ts", watermark).filter(
        F.col("event_type").isin(left_type, right_type)
    )
    return filtered.groupBy("user_id").applyInPandasWithState(
        _make_asof_fn(left_type),
        outputStructType=_ASOF_OUT_SCHEMA,
        stateStructType=_ASOF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --- bounded runner ---------------------------------------------------------


def run_available_now(
    spark: SparkSession,
    streaming_df: DataFrame,
    query_name: str,
    output_mode: str = "complete",
    timeout_s: int = 120,
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming transform over the bounded fixture with
    ``trigger(availableNow=True)`` into a memory sink and return the final
    table — the batch-equivalence harness for every operator above.

    ``shuffle_partitions`` — micro-batch shuffle width for THIS run (r14):
    streaming shuffles get no AQE coalescing and each stateful operator
    keeps one state-store instance per shuffle partition per micro-batch,
    so bounded runs over narrow sources pass the source-derived width
    (:func:`~graphdb_neo4j_spark.session.adaptive_stream_shuffle_partitions`);
    the session conf is restored after the drain.

    Serial only: the width is the SESSION-GLOBAL shuffle conf, set here
    and restored after the drain. Two overlapping runs on one session
    race — the second can start under the first one's width, and the
    restores can leave the narrowed value behind. Run one at a time per
    session (the rollup maintainer's ``_stream_width`` has the same
    contract)."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if shuffle_partitions:
        spark.conf.set(key, str(shuffle_partitions))
    try:
        q = (
            streaming_df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        try:
            finished = q.awaitTermination(timeout_s)
        finally:
            q.stop()
    finally:
        if shuffle_partitions:
            spark.conf.set(key, prev)
    if not finished:
        # a partial memory table would be silently wrong — fail loudly
        raise TimeoutError(
            f"streaming query {query_name!r} did not drain within {timeout_s}s"
        )
    return spark.table(query_name)


# --- registered query forms + oracles ---------------------------------------
#
# availableNow over the bounded fixture makes every streaming operator
# oracle-checkable: the final memory-sink table must equal the batch
# answer (nothing is late on a bounded source), so the DuckDB oracle is
# the SAME SQL the batch twin uses.


def q_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling-window agg, run to completion and compared
    against the batch oracle (twin of operators/events.q_events_hourly)."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, hourly_stream(ev), "stream_hourly_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window state operator run to completion. Session
    boundary discipline: session_window merges an event iff it lands
    STRICTLY within ``gap`` of the window end, so the oracle breaks
    sessions on ``diff >= gap`` (the batch gaps-and-islands form uses
    ``> gap`` — equivalent unless an exact-gap pair exists)."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, session_window_stream(ev), "stream_sessions_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


STREAM_SESSIONS_SQL = f"""
WITH ordered AS (
    SELECT user_id, ts::TIMESTAMP AS ts,
           CASE WHEN epoch_ms(ts::TIMESTAMP)
                     - epoch_ms(lag(ts::TIMESTAMP) OVER (PARTITION BY user_id ORDER BY ts))
                     >= {30 * 60 * 1000} THEN 1 ELSE 0 END AS new_session
    FROM events
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, session_id
"""


def q_stream_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming as-of join run to completion. On the bounded ordered
    fixture the result equals the batch ``asof_join`` exactly, so it
    registers against the SAME DuckDB ASOF JOIN oracle."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, asof_stream(ev), "stream_asof_sink", output_mode="append"
    )


def dedup_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once from at-least-once: drop redelivered events by
    ``event_id`` with ``dropDuplicatesWithinWatermark`` — the streaming
    dedup primitive for sources that can replay (Kafka re-polls, file
    re-lists, upstream retries). State holds one entry per event_id seen
    within the watermark horizon and is evicted past it, so state size is
    bounded by arrival rate × watermark, not stream length — the property
    that makes this runnable on an unbounded 100 TB/day feed (plain
    ``dropDuplicates`` would grow state forever).

    Emissions are append-on-arrival (dedup filters against state; nothing
    waits for window finalization), so the bounded availableNow run yields
    every surviving event row."""
    return (
        events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("event_time"),
            "user_id",
            "event_type",
            "value",
        )
    )


def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery simulation: the fixture is fed TWICE (two
    file-source scans unioned — every event redelivered once), then
    deduplicated by event_id within the watermark. The surviving set must
    equal the events table exactly, so the oracle is a plain projection of
    ``events`` — duplicates slipping through or rows lost both hash-fail."""
    doubled = stream_events(spark, sf_dir).unionByName(
        stream_events(spark, sf_dir)
    )
    return run_available_now(
        spark,
        dedup_stream(doubled),
        "stream_dedup_sink",
        output_mode="append",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


STREAM_DEDUP_SQL = """
SELECT event_id,
       strftime(ts::TIMESTAMP, '%Y-%m-%d %H:%M:%S') AS event_time,
       user_id, event_type, value
FROM events
"""


def json_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch JSON-extraction aggregation
    (operators/events.q_events_json): parse ``props.k`` once with
    ``get_json_object``, aggregate per event_type. Unwindowed global agg →
    complete output mode; on the bounded fixture the final table equals
    the batch answer, so it registers against the SAME oracle."""
    k = F.get_json_object("props", "$.k").cast("long")
    return events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


def q_stream_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, json_stats_stream(ev), "stream_json_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


def q_stream_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom applyInPandasWithState operator drained with availableNow,
    then reduced to the final per-user totals (r9 oracle promotion —
    VERDICT r8 #2). Update-mode emissions are per-micro-batch (row set
    depends on batch split), but each emission is the user's RUNNING
    count, monotone non-decreasing across batches — so max-per-user over
    the emissions is exactly the final state, which equals the batch
    ``COUNT(*) GROUP BY user_id``. Same reduction discipline as
    :func:`q_stream_funnel`; the raw-emission form stays covered by
    tests/test_streaming.py."""
    ev = stream_events(spark, sf_dir)
    sink = run_available_now(
        spark,
        user_counts_stateful_stream(ev),
        "stream_user_counts_sink",
        output_mode="update",
    )
    return sink.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


STREAM_USER_COUNTS_SQL = """
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
"""


# --- streaming funnel (stateful, exact under disorder) -----------------------

_FUNNEL_STATE_SCHEMA = "s1 array<bigint>, s2 array<bigint>, s3 array<bigint>"
_FUNNEL_OUT_SCHEMA = "user_id bigint, reached int"
_FUNNEL_STEP_US = 24 * 3600 * 1_000_000  # FUNNEL_STEP_HOURS in micros


def _funnel_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user funnel stage with EXACT batch equivalence under arbitrary
    arrival order: state keeps the per-stage event-time lists and the
    stage is recomputed from scratch each micro-batch (a late stage-1
    event can move the whole window and both enable and invalidate later
    stages — a (t1, t2, t3)-scalars state cannot repair that). State is
    bounded by the user's per-stage event counts; the 100 TB variant
    prunes each list to timestamps within reach of the current frontier
    once the watermark passes (same bounding argument as sessionize
    state)."""
    from graphdb_neo4j_spark.operators.events import FUNNEL_STAGES

    lists = (
        [list(state.get[0]), list(state.get[1]), list(state.get[2])]
        if state.exists
        else [[], [], []]
    )
    stage_idx = {s: i for i, s in enumerate(FUNNEL_STAGES)}
    for pdf in batches:
        for et, ts in zip(pdf["event_type"], pdf["ts"]):
            i = stage_idx.get(et)
            if i is not None:
                lists[i].append(int(ts.value) // 1000)  # ns → µs
    state.update((lists[0], lists[1], lists[2]))
    reached = 0
    if lists[0]:
        reached = 1
        t1 = min(lists[0])
        c2 = [t for t in lists[1] if t1 <= t <= t1 + _FUNNEL_STEP_US]
        if c2:
            reached = 2
            t2 = min(c2)
            if any(t2 <= t <= t2 + _FUNNEL_STEP_US for t in lists[2]):
                reached = 3
    yield pd.DataFrame({"user_id": [key[0]], "reached": [reached]})


def funnel_stateful_stream(events: DataFrame) -> DataFrame:
    """Keyed-state streaming funnel: emits each user's currently-reached
    stage per micro-batch (update mode). The reached stage is monotone
    non-decreasing across emissions (the recompute only ever sees MORE
    events), so any downstream consumer may safely take max-per-user."""
    from graphdb_neo4j_spark.operators.events import FUNNEL_STAGES

    relevant = events.filter(F.col("event_type").isin(*FUNNEL_STAGES))
    return relevant.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=_FUNNEL_OUT_SCHEMA,
        stateStructType=_FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming funnel drained with availableNow, then rolled up to the
    3-row (stage, stage_idx, n_users) report — same output contract and
    DuckDB oracle as the batch ``funnel_counts``. Max-per-user over the
    update emissions is exact because reached is monotone (see
    funnel_stateful_stream)."""
    from graphdb_neo4j_spark.operators.events import FUNNEL_STAGES

    ev = stream_events(spark, sf_dir)
    sink = run_available_now(
        spark,
        funnel_stateful_stream(ev),
        "stream_funnel_sink",
        output_mode="update",
    )
    final = sink.groupBy("user_id").agg(F.max("reached").alias("reached"))
    counts = final.agg(
        *[
            F.sum((F.col("reached") >= i + 1).cast("long")).alias(f"c{i + 1}")
            for i in range(3)
        ]
    )
    s1, s2, s3 = FUNNEL_STAGES
    return counts.select(
        F.expr(
            f"stack(3, '{s1}', 1, c1, '{s2}', 2, c2, '{s3}', 3, c3)"
        ).alias("stage", "stage_idx", "n_users")
    )


# --- stream-stream interval join ---------------------------------------------


def interval_join_stream(
    clicks: DataFrame,
    purchases: DataFrame,
    window_min: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream INNER join with an event-time range
    condition — the streaming twin of the batch attribution join
    (operators/events.attribution_window_join): each purchase collects
    the same user's clicks inside its trailing ``(ts − window, ts]``
    attribution window as both streams arrive.

    State/scale contract: this is Spark's native stream-stream join —
    both sides buffer keyed state, and the JOINT condition (equality on
    user + a BOUNDED time range + watermarks on both sides) is exactly
    what lets the engine evict: a buffered click older than
    ``watermark + window`` below the right-side event-time frontier can
    never match a future purchase and is dropped, so state is bounded by
    arrival rate × (watermark + window), not stream length. An
    unconstrained (or one-sided-watermark) stream join would buffer
    forever — the condition shape IS the 100 TB design.

    Inner semantics by design: left-outer emission of never-matched rows
    waits on watermark advancement past the end of a bounded source,
    which availableNow does not guarantee before draining; the batch twin
    keeps LEFT semantics for the zero-click report.
    """
    c = (
        clicks.select(
            F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
        )
        .withWatermark("c_ts", watermark)
    )
    p = (
        purchases.select(
            "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
        )
        .withWatermark("p_ts", watermark)
    )
    return p.join(
        c,
        F.expr(
            f"c_user = p_user AND c_ts > p_ts - INTERVAL {window_min} MINUTES"
            " AND c_ts <= p_ts"
        ),
    ).select(
        "event_id",
        F.col("p_user").alias("user_id"),
        F.unix_millis("p_ts").alias("ts_ms"),
        F.unix_millis("c_ts").alias("click_ms"),
    )


def q_stream_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded availableNow run of the stream-stream attribution join;
    the final (purchase, click) pair set must equal the batch inner
    join exactly (nothing is late on the bounded fixture)."""
    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    purchases = stream_events(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    return run_available_now(
        spark,
        interval_join_stream(clicks, purchases),
        "stream_interval_sink",
        output_mode="append",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )


STREAM_INTERVAL_SQL = """
WITH c AS (
    SELECT user_id, epoch_ms(ts::TIMESTAMP) AS c_ms
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS p_ms
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.p_ms AS ts_ms, c.c_ms AS click_ms
FROM p JOIN c
  ON c.user_id = p.user_id
 AND c.c_ms > p.p_ms - 60 * 60 * 1000
 AND c.c_ms <= p.p_ms
"""


# --- streaming Markov transitions (stateful lag across batches) --------------

_TRANS_STATE_SCHEMA = "last_us bigint, last_eid bigint, last_type string"
_TRANS_OUT_SCHEMA = "from_type string, to_type string"


def _transitions_fn(
    key: tuple[Any, ...],
    batches: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Per-user consecutive-pair extraction with the LAG seeded from
    state: the previous batch's final event is the first pair's
    ``from`` side, so batch boundaries are invisible. Within a batch
    rows sort by the batch operator's exact tie rule (ts, event_id);
    ACROSS batches the operator assumes event-time-ordered arrival per
    key (the stream_asof contract — a watermark-deep reorder buffer is
    the documented extension)."""
    last = state.get if state.exists else (None, None, None)
    for pdf in batches:
        if not len(pdf):
            continue
        pdf = pdf.copy()
        pdf["us"] = pdf["ts"].astype("datetime64[us]").astype("int64")
        pdf = pdf.sort_values(["us", "event_id"])
        types = pdf["event_type"].tolist()
        prev = [last[2]] + types[:-1]
        out = pd.DataFrame({"from_type": prev, "to_type": types})
        out = out[out["from_type"].notna()]
        if len(pdf):
            tail = pdf.iloc[-1]
            last = (int(tail["us"]), int(tail["event_id"]), tail["event_type"])
        if len(out):
            yield out
    state.update(last)


def transitions_stream(events: DataFrame) -> DataFrame:
    """Keyed-state streaming twin of the batch transition extraction:
    state = one (ts, event_id, type) triple per user."""
    return events.select(
        "user_id", "ts", "event_id", "event_type"
    ).groupBy("user_id").applyInPandasWithState(
        _transitions_fn,
        outputStructType=_TRANS_OUT_SCHEMA,
        stateStructType=_TRANS_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def q_stream_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drained pair stream rolled up to the (from, to, n, p(to|from))
    report — same output contract and DuckDB oracle as the batch
    ``event_transitions`` (nothing is out of order on the bounded
    fixture, so the availableNow run must match exactly)."""
    ev = stream_events(spark, sf_dir)
    pairs = run_available_now(
        spark,
        transitions_stream(ev),
        "stream_transitions_sink",
        output_mode="append",
    )
    from pyspark.sql import Window as W

    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    w_from = W.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_from), 6
        ).alias("p_to_given_from"),
    )


def ohlc_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming hourly OHLC bars — min_by/max_by positional aggregates
    inside a watermarked tumbling window (they merge like any min/max,
    so the state per (window, type) is four scalars + counts). The
    ordering key is the struct (ts, event_id) — total for any ts
    horizon / id range, unlike a packed BIGINT."""
    okey = F.struct(F.col("ts"), F.col("event_id"))
    val = F.col("value").cast("decimal(18,2)")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.min_by(val, okey).cast("double").alias("open"),
            F.max(val).cast("double").alias("high"),
            F.min(val).cast("double").alias("low"),
            F.max_by(val, okey).cast("double").alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "open",
            "high",
            "low",
            "close",
            "n",
        )
    )


def q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """availableNow run of the streaming OHLC — must equal the batch
    q_events_ohlc exactly on the bounded fixture (same oracle)."""
    ev = stream_events(spark, sf_dir)
    return run_available_now(
        spark, ohlc_stream(ev), "stream_ohlc_sink",
        shuffle_partitions=events_stream_partitions(spark, sf_dir),
    )
