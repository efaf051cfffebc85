"""Event-stream batch analytics over the ``events`` table: tumbling-window
aggregation, JSON property extraction, sessionization.

The reference has no streaming operators (SURVEY.md §2.8); these are the
designated extensions over the driver's events fixture, expressed as batch
queries with DuckDB oracles. The same logical shapes (tumbling window agg,
stateful sessionization) port directly to Structured Streaming
(readStream + watermark / applyInPandasWithState) when an append source
exists.

Determinism: window starts are emitted as formatted strings (timestamp
representation parity), sums run on exact decimals (value is 2-decimal by
data contract).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from graphdb_neo4j_spark.session import materialize
from graphdb_neo4j_spark.sources.tpch import load_table

SESSION_GAP_MIN = 30


def normalize_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize the ``ts`` column to session-zoned TIMESTAMP regardless of
    how the fixture encoded it. Three encodings have been observed across
    driver rounds, and this helper must stay robust to all of them:

    - ``bigint``        — epoch NANOS surfaced by ``nanosAsLong``; truncate
      to micros (same truncation DuckDB applies for TIMESTAMP_NS → TIMESTAMP).
    - ``timestamp_ntz`` — plain parquet ``timestamp[us]`` without a UTC flag.
      The session timezone is pinned UTC by the loaders, so casting to
      TIMESTAMP reinterprets the naive value as the identical UTC instant —
      DuckDB oracles (naive strftime/epoch_ms) keep matching.
    - ``timestamp``     — already what we want.
    """
    dt = dict(df.dtypes)[col]
    if dt == "bigint":
        return df.withColumn(col, F.expr(f"timestamp_micros({col} DIV 1000)"))
    if dt.startswith("timestamp_ntz"):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events table with ``ts`` as a proper (session-zoned) timestamp.

    ``spark.sql.legacy.parquet.nanosAsLong`` is set HERE — not only in
    get_spark() — so a TIMESTAMP(NANOS) fixture reads on ANY
    caller-supplied SparkSession (the driver harness builds its own);
    for micros fixtures the conf is a no-op. :func:`normalize_ts` then
    maps whatever encoding arrived onto TIMESTAMP."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # date_format renders in the session timezone; the oracle's strftime is
    # naive-UTC. Pin it here so parity holds on ANY caller-supplied session
    # (same reasoning as the nanos conf above — both are runtime SQLConfs).
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_ts(load_table(spark, sf_dir, "events"))


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows × event_type: count + exact sum(value)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
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


EVENTS_HOURLY_SQL = """
SELECT strftime(time_bucket(INTERVAL '1 hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) windows — 1-hour length, 15-minute slide — ×
    event_type: the smoothed rate/trend view tumbling buckets can't give
    (every event lands in length/slide = 4 overlapping windows).

    Scale shape: ``F.window(ts, length, slide)`` expands each row to its
    4 window assignments INSIDE the aggregate's projection (a row-local
    explode, not a join), then one two-phase hash aggregate on
    (window, type) — map-side partials collapse the 4× row inflation
    before the shuffle, so the exchange carries ≤ windows × types rows.
    The DuckDB oracle derives the same 4 window starts arithmetically
    (generate_series over 15-minute buckets).
    """
    ev = load_events(spark, sf_dir)
    return (
        ev.groupBy(
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


EVENTS_HOPPING_SQL = """
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events,
     LATERAL unnest(generate_series(
         time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP) - INTERVAL '45 minutes',
         time_bucket(INTERVAL '15 minutes', ts::TIMESTAMP),
         INTERVAL '15 minutes')) AS t(ws)
GROUP BY 1, 2
"""


def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON property extraction (props is a JSON string column): per
    event_type stats over props.k."""
    ev = load_events(spark, sf_dir)
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


EVENTS_JSON_SQL = """
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


def sessionize(events: DataFrame, gap_minutes: int = SESSION_GAP_MIN) -> DataFrame:
    """Assign session ids per user: a session breaks when the gap from the
    previous event exceeds ``gap_minutes`` (gaps-and-islands via lag +
    running sum)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ms = gap_minutes * 60 * 1000  # millisecond precision on both engines
    is_new = (
        F.when(
            F.unix_millis("ts") - F.lag(F.unix_millis("ts")).over(w) > gap_ms,
            1,
        )
        .otherwise(0)
    )
    return events.withColumn("new_session", is_new).withColumn(
        "session_id", F.sum("new_session").over(w)
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats: #sessions, #events, largest session."""
    ev = load_events(spark, sf_dir)
    sess = sessionize(ev)
    per_session = sess.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events")
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


def asof_join_events(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """As-of join: each ``left_type`` event picks up the latest
    ``right_type`` event of the same user at-or-before its timestamp
    (``l.ts >= r.ts`` semantics, DuckDB/kdb ASOF JOIN), plus the running
    count of prior right-side events.

    Spark has no as-of join primitive; the naive encodings are a range
    join (BroadcastNestedLoop / O(L·R) per user) or a per-key
    ``merge_asof`` in Python. This is the scale form instead: union both
    sides, ONE shuffle on ``user_id``, one ordered window scan with
    ``last(..., ignorenulls)`` — linear in events, no pair blow-up, and
    the same shape a 1000-executor run wants (each user's timeline sorts
    within its partition; AQE handles skewed users).

    Tie discipline: at equal ``ts`` the right row sorts before the left
    row (``is_l`` ascending), which is exactly the ``>=`` match. Outputs
    are epoch-millis BIGINTs, deterministic even when several right
    events share a timestamp (only max ts and counts are emitted, never
    an arbitrary surviving payload row).
    """
    u = events.filter(
        F.col("event_type").isin(left_type, right_type)
    ).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == left_type).cast("int").alias("is_l"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("is_l").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    right_ts = F.when(F.col("is_l") == 0, F.col("ts"))
    return (
        u.withColumn("prior_ts", F.last(right_ts, ignorenulls=True).over(w))
        .withColumn("n_prior", F.sum(1 - F.col("is_l")).over(w))
        .filter(F.col("is_l") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.unix_millis("prior_ts").alias("prior_ts_ms"),
            (F.unix_millis("ts") - F.unix_millis("prior_ts")).alias("lag_ms"),
            "n_prior",
        )
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_events(load_events(spark, sf_dir))


ASOF_JOIN_SQL = """
WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'purchase')
SELECT l.event_id,
       l.user_id,
       epoch_ms(l.ts) AS ts_ms,
       epoch_ms(r.ts) AS prior_ts_ms,
       epoch_ms(l.ts) - epoch_ms(r.ts) AS lag_ms,
       (SELECT COUNT(*) FROM r r2
         WHERE r2.user_id = l.user_id AND r2.ts <= l.ts) AS n_prior
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


SESSIONIZE_SQL = f"""
WITH ordered AS (
    SELECT user_id, event_id, ts,
           CASE WHEN epoch_ms(ts::TIMESTAMP) - epoch_ms(LAG(ts::TIMESTAMP) OVER w) > {SESSION_GAP_MIN * 60 * 1000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts::TIMESTAMP, event_id)
),
with_sess AS (
    SELECT user_id, event_id,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
),
per_session AS (
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM with_sess GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       MAX(n_events) AS max_session_events
FROM per_session
GROUP BY user_id
"""


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLAP cube over the event stream: counts + exact sums for every
    (event_type × day) combination INCLUDING both marginals and the grand
    total — Spark's ``cube`` plans a single pass with partial aggregation
    per grouping set (an operator family the reference lacks; §2.4 notes
    Spark provides it natively).

    Null grouping cells are labeled '(all)' so the oracle hash is stable
    (DuckDB CUBE emits NULLs the same way)."""
    ev = load_events(spark, sf_dir)
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .cube("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
                "sum_value"
            ),
        )
        .select(
            F.coalesce("event_type", F.lit("(all)")).alias("event_type"),
            F.coalesce("day", F.lit("(all)")).alias("day"),
            "n",
            "sum_value",
        )
    )


EVENTS_CUBE_SQL = """
SELECT COALESCE(event_type, '(all)') AS event_type,
       COALESCE(strftime(time_bucket(INTERVAL '1 day', ts::TIMESTAMP), '%Y-%m-%d'), '(all)') AS day,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY CUBE (event_type, time_bucket(INTERVAL '1 day', ts::TIMESTAMP))
"""


def q_hourly_rollup_serve(
    spark: SparkSession, sf_dir: str, cutoff_frac: float = 0.7
) -> DataFrame:
    """Continuous-aggregate (hypertable-rollup) serving pattern: a
    MATERIALIZED hourly rollup covers everything before the high-water
    mark; the raw tail past it is aggregated at query time; the serving
    answer is their union.

    The high-water mark is hour-ALIGNED, so materialized and fresh
    windows are disjoint and the union needs no re-aggregation — the
    invariant that makes incremental rollup maintenance correct (append
    events only ever touch windows past the mark). Here the mark is a
    deterministic fraction of the fixture's time range and the
    "materialized" side is lineage-truncated to model a stored table; in
    production it is the parquet/Delta output of the `stream_hourly` job
    and the serving query is unchanged. Oracle: the plain hourly SQL —
    the split-and-merge must be invisible in the answer.
    """
    ev = load_events(spark, sf_dir)
    lo, hi = ev.agg(F.min("ts"), F.max("ts")).collect()[0]  # 2-scalar fetch
    cut_us = int(
        lo.timestamp() * 1_000_000
        + cutoff_frac * (hi.timestamp() - lo.timestamp()) * 1_000_000
    )
    cut_hour = F.timestamp_micros(
        F.lit(cut_us - cut_us % 3_600_000_000).cast("long")
    )

    def hourly(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)"))
                .cast("double")
                .alias("sum_value"),
            )
            .select(
                F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                    "window_start"
                ),
                "event_type",
                "n",
                "sum_value",
            )
        )

    materialized = hourly(ev.filter(F.col("ts") < cut_hour)).transform(materialize)
    fresh = hourly(ev.filter(F.col("ts") >= cut_hour))
    return materialized.unionByName(fresh)


# --- funnel analysis ---------------------------------------------------------

FUNNEL_STAGES = ("signup", "view", "purchase")
FUNNEL_STEP_HOURS = 24


def funnel_counts(
    events: DataFrame,
    stages: tuple[str, str, str] = FUNNEL_STAGES,
    step_hours: int = FUNNEL_STEP_HOURS,
) -> DataFrame:
    """Sequential conversion funnel: users reaching stage k did stage k's
    event at-or-after their stage-(k-1) reach time and within
    ``step_hours`` of it (reach time = earliest qualifying event).

    Scale shape: the stage reach times are per-user scalars with a
    dependency chain (t2 is defined in terms of t1), so they are computed
    as three chained whole-partition window aggregates over ONE shuffle on
    ``user_id`` — no self-joins, no per-stage re-scan. The per-user
    reduction that follows reuses the same hash partitioning, and the
    final 3-row pivot is a single-row global agg + ``stack``. At 100 TB
    this is one pass over the events table regardless of funnel depth.

    Unordered (whole-partition) windows keep the result independent of
    intra-partition row order: ties at equal timestamps qualify via the
    ``>=`` bound exactly as in the SQL mirror.
    """
    s1, s2, s3 = stages
    w = Window.partitionBy("user_id")
    step = F.expr(f"INTERVAL {step_hours} HOURS")
    ts, et = F.col("ts"), F.col("event_type")
    d = events.withColumn("t1", F.min(F.when(et == s1, ts)).over(w))
    d = d.withColumn(
        "t2",
        F.min(
            F.when((et == s2) & (ts >= F.col("t1")) & (ts <= F.col("t1") + step), ts)
        ).over(w),
    )
    d = d.withColumn(
        "t3",
        F.min(
            F.when((et == s3) & (ts >= F.col("t2")) & (ts <= F.col("t2") + step), ts)
        ).over(w),
    )
    per_user = d.groupBy("user_id").agg(
        F.min("t1").alias("t1"), F.min("t2").alias("t2"), F.min("t3").alias("t3")
    )
    counts = per_user.agg(
        F.count("t1").alias("c1"), F.count("t2").alias("c2"), F.count("t3").alias("c3")
    )
    return counts.select(
        F.expr(
            f"stack(3, '{s1}', 1, c1, '{s2}', 2, c2, '{s3}', 3, c3)"
        ).alias("stage", "stage_idx", "n_users")
    )


def q_funnel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return funnel_counts(load_events(spark, sf_dir))


FUNNEL_SQL = f"""
WITH u1 AS (SELECT user_id, MIN(ts::TIMESTAMP) AS t1 FROM events
            WHERE event_type = '{FUNNEL_STAGES[0]}' GROUP BY user_id),
u2 AS (SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS t2
       FROM events e JOIN u1 ON e.user_id = u1.user_id
       WHERE e.event_type = '{FUNNEL_STAGES[1]}' AND e.ts::TIMESTAMP >= u1.t1
         AND e.ts::TIMESTAMP <= u1.t1 + INTERVAL {FUNNEL_STEP_HOURS} HOUR
       GROUP BY e.user_id),
u3 AS (SELECT e.user_id, MIN(e.ts::TIMESTAMP) AS t3
       FROM events e JOIN u2 ON e.user_id = u2.user_id
       WHERE e.event_type = '{FUNNEL_STAGES[2]}' AND e.ts::TIMESTAMP >= u2.t2
         AND e.ts::TIMESTAMP <= u2.t2 + INTERVAL {FUNNEL_STEP_HOURS} HOUR
       GROUP BY e.user_id)
SELECT '{FUNNEL_STAGES[0]}' AS stage, CAST(1 AS INT) AS stage_idx, COUNT(*) AS n_users FROM u1
UNION ALL SELECT '{FUNNEL_STAGES[1]}', CAST(2 AS INT), COUNT(*) FROM u2
UNION ALL SELECT '{FUNNEL_STAGES[2]}', CAST(3 AS INT), COUNT(*) FROM u3
"""


# --- retention cohorts -------------------------------------------------------


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day; for each
    (cohort_day, day_offset) the count of distinct users active that many
    days after their first event.

    Scale shape: the cohort day is a whole-partition window MIN over one
    shuffle on ``user_id`` (no join back to a first-seen table — the
    window form keeps it a single pass), then one count-distinct shuffle
    keyed by (cohort_day, day_offset). Both aggregations are partial-agg
    friendly; cohort keys are low-cardinality (days × offsets), so the
    second shuffle is tiny.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id")
    d = ev.withColumn("cohort", F.min(F.to_date("ts")).over(w))
    return d.groupBy(
        F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
        F.datediff(F.to_date("ts"), F.col("cohort")).cast("int").alias("day_offset"),
    ).agg(F.count_distinct("user_id").alias("n_users"))


RETENTION_SQL = """
WITH wc AS (SELECT user_id, ts::TIMESTAMP AS ts,
                   MIN(CAST(ts::TIMESTAMP AS DATE)) OVER (PARTITION BY user_id) AS cohort
            FROM events)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cohort, CAST(ts AS DATE)) AS INT) AS day_offset,
       COUNT(DISTINCT user_id) AS n_users
FROM wc GROUP BY 1, 2
"""


# --- exact quantiles per group -----------------------------------------------

QUANTILE_PROBS = (0.5, 0.9, 0.99)


def q_events_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous quantiles of ``value`` per event_type (p50/p90/p99
    with linear interpolation — the semantics DuckDB's ``quantile_cont``
    and Spark's ``percentile`` share).

    Exact percentile needs the group's values sorted — fine per
    event_type here (5 low-cardinality groups; Spark's percentile agg
    buffers per group). The UNBOUNDED-cardinality version of this
    operator is `sketch_profile`'s GK quantiles (mergeable,
    constant-memory partials) — that is the 100 TB default; the exact
    form is the per-dimension drill-down you run on a filtered slice.
    Rounded to 6 decimals: interpolation arithmetic is float-order
    sensitive across engines.
    """
    ev = load_events(spark, sf_dir)
    probs = ", ".join(str(p) for p in QUANTILE_PROBS)
    qs = F.expr(f"percentile(value, array({probs}))")
    return (
        ev.groupBy("event_type")
        .agg(qs.alias("qs"), F.count("*").alias("n"))
        .select(
            "event_type",
            "n",
            F.round(F.element_at("qs", 1), 6).alias("p50"),
            F.round(F.element_at("qs", 2), 6).alias("p90"),
            F.round(F.element_at("qs", 3), 6).alias("p99"),
        )
    )


EVENTS_QUANTILES_SQL = f"""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(quantile_cont(value, {QUANTILE_PROBS[0]}), 6) AS p50,
       ROUND(quantile_cont(value, {QUANTILE_PROBS[1]}), 6) AS p90,
       ROUND(quantile_cont(value, {QUANTILE_PROBS[2]}), 6) AS p99
FROM events
GROUP BY event_type
"""


# --- rolling time-window aggregates ------------------------------------------

ROLLING_DAYS = 7


def q_rolling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): the day's event count plus the trailing
    ``ROLLING_DAYS``-day rolling count and rolling value sum — the
    moving-average family over a time series.

    Scale shape: aggregate FIRST (one shuffle down to event_type × day —
    a few thousand rows per year regardless of input size), THEN run the
    rolling RANGE window over the tiny daily table. The naive
    row-level-window form sorts the full events table; this form sorts
    ~365 rows per event_type. The range frame is over ``unix_date`` (days
    since epoch) so missing days correctly widen the window rather than
    being skipped row-wise.
    """
    ev = load_events(spark, sf_dir)
    daily = (
        ev.groupBy("event_type", F.to_date("ts").alias("d"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value_dec"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-(ROLLING_DAYS - 1), 0)
    )
    return daily.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.sum("n").over(w).alias("rolling_n"),
        F.sum("sum_value_dec").over(w).cast("double").alias("rolling_sum_value"),
    )


ROLLING_DAILY_SQL = f"""
WITH daily AS (
    SELECT event_type,
           CAST(ts::TIMESTAMP AS DATE) AS d,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(18,2))) AS sum_value_dec
    FROM events
    GROUP BY 1, 2
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       n,
       CAST(SUM(n) OVER w AS BIGINT) AS rolling_n,
       CAST(SUM(sum_value_dec) OVER w AS DOUBLE) AS rolling_sum_value
FROM daily
WINDOW w AS (PARTITION BY event_type ORDER BY d
             RANGE BETWEEN INTERVAL {ROLLING_DAYS - 1} DAY PRECEDING AND CURRENT ROW)
"""


# --- bounded-range interval join (attribution window) ------------------------

ATTR_WINDOW_MIN = 60


def attribution_window_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    window_min: int = ATTR_WINDOW_MIN,
) -> DataFrame:
    """Interval containment join: each ``right_type`` event collects the
    ``left_type`` events of the same user inside its trailing attribution
    window ``(ts - window_min, ts]`` — the marketing-attribution /
    sensor-correlation primitive.

    Spark plans a raw range predicate as BroadcastNestedLoopJoin (O(L·R)
    per user). Because the range is BOUNDED, it bins into an equi-join: a
    click lands in exactly one window-width time bucket, a window spans
    at most two adjacent buckets, so the purchase side explodes to its ≤2
    candidate buckets and the join key becomes (user_id, bucket) with the
    range check as a residual — the classic bounded-range-to-equi-join
    rewrite. Work is Σ per-(user,bucket) products, not L·R; AQE skew
    handling covers hot (user,bucket) keys; each click is in one bucket,
    so nothing double-counts.

    Output per purchase (LEFT semantics — zero-click purchases kept):
    (event_id, user_id, ts_ms, n_clicks, first_click_ms, last_click_ms).
    """
    w_ms = window_min * 60 * 1000
    clicks = events.filter(F.col("event_type") == left_type).select(
        "user_id",
        F.unix_millis("ts").alias("c_ms"),
    ).withColumn("bucket", F.floor(F.col("c_ms") / w_ms))
    purchases = events.filter(F.col("event_type") == right_type).select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("p_ms"),
    )
    candidates = purchases.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor((F.col("p_ms") - w_ms) / w_ms),
                    F.floor(F.col("p_ms") / w_ms),
                )
            )
        ),
    )
    joined = candidates.join(
        clicks,
        on=(
            (candidates.user_id == clicks.user_id)
            & (candidates.bucket == clicks.bucket)
            & (clicks.c_ms > candidates.p_ms - w_ms)
            & (clicks.c_ms <= candidates.p_ms)
        ),
        how="left",
    )
    return joined.groupBy(
        candidates.event_id, candidates.user_id, candidates.p_ms
    ).agg(
        F.count("c_ms").alias("n_clicks"),
        F.min("c_ms").alias("first_click_ms"),
        F.max("c_ms").alias("last_click_ms"),
    ).select(
        "event_id",
        "user_id",
        F.col("p_ms").alias("ts_ms"),
        "n_clicks",
        "first_click_ms",
        "last_click_ms",
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    return attribution_window_join(load_events(spark, sf_dir))


INTERVAL_JOIN_SQL = f"""
WITH c AS (
    SELECT user_id, epoch_ms(ts::TIMESTAMP) AS c_ms
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT event_id, user_id, epoch_ms(ts::TIMESTAMP) AS p_ms
    FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id,
       p.user_id,
       p.p_ms AS ts_ms,
       COUNT(c.c_ms) AS n_clicks,
       MIN(c.c_ms) AS first_click_ms,
       MAX(c.c_ms) AS last_click_ms
FROM p LEFT JOIN c
  ON c.user_id = p.user_id
 AND c.c_ms > p.p_ms - {ATTR_WINDOW_MIN * 60 * 1000}
 AND c.c_ms <= p.p_ms
GROUP BY p.event_id, p.user_id, p.p_ms
"""


# --- rolling z-score anomaly detection ---------------------------------------

ANOMALY_BASELINE_DAYS = 28
ANOMALY_MIN_BASELINE = 7  # need a week of history before a z-score means anything
ANOMALY_Z = 2.0


def anomaly_from_daily(daily) -> DataFrame:
    """Rolling z-score detector over a (event_type, d: date, n) daily
    table — shared by the batch query (daily built from raw events) and
    the streaming twin (daily read from the incrementally-maintained
    store). Baseline mean/std come from INTEGER window sums (Σn, Σn², k)
    rather than an engine variance aggregate, so both engines evaluate
    the same double expression tree and the value hash is bit-stable;
    the RANGE frame over unix_date makes calendar gaps widen the window
    instead of sliding over rows, and it EXCLUDES the current day (a
    spike cannot suppress its own z-score)."""
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.unix_date(F.col("d")))
        .rangeBetween(-ANOMALY_BASELINE_DAYS, -1)
    )
    stats = daily.select(
        "event_type",
        "d",
        "n",
        F.sum("n").over(w).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(w).alias("s2"),
        F.count("n").over(w).alias("k"),
    )
    mean = F.col("s1").cast("double") / F.col("k")
    # two-pass variance from exact integer sums; guard k>=2 for the n-1
    var = (F.col("s2").cast("double") - F.col("s1").cast("double") * mean) / (
        F.col("k") - 1
    )
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    ok = (F.col("k") >= ANOMALY_MIN_BASELINE) & (std > 0)
    z = F.when(ok, (F.col("n") - mean) / std)
    return stats.select(
        "event_type",
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n",
        F.when(F.col("k") > 0, F.round(mean, 6)).alias("baseline_mean"),
        F.when(ok, F.round(std, 6)).alias("baseline_std"),
        F.round(z, 6).alias("z_score"),
        F.coalesce(F.abs(z) > ANOMALY_Z, F.lit(False)).alias("is_anomaly"),
    )


def q_events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day): daily event count, trailing-28-day baseline
    mean/std (EXCLUDING the current day), z-score, anomaly flag — the
    standard ops/metrics spike detector run as a batch query.

    Scale shape: identical to :func:`q_rolling_daily` — one shuffle down
    to event_type × day, then every window (see
    :func:`anomaly_from_daily`) runs over the tiny daily table.
    """
    ev = load_events(spark, sf_dir)
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count("*").alias("n")
    )
    return anomaly_from_daily(daily)


EVENTS_ANOMALY_SQL = f"""
WITH daily AS (
    SELECT event_type, CAST(ts::TIMESTAMP AS DATE) AS d, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
stats AS (
    SELECT event_type, d, n,
           SUM(n) OVER w AS s1,
           SUM(n * n) OVER w AS s2,
           COUNT(n) OVER w AS k
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY d
                 RANGE BETWEEN INTERVAL {ANOMALY_BASELINE_DAYS} DAY PRECEDING
                           AND INTERVAL 1 DAY PRECEDING)
),
calc AS (
    SELECT event_type, d, n, k,
           CAST(s1 AS DOUBLE) / k AS mean,
           sqrt(greatest((CAST(s2 AS DOUBLE)
                          - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / k))
                         / (k - 1), 0.0)) AS std
    FROM stats
),
zz AS (
    SELECT event_type, d, n, k, mean, std,
           CASE WHEN k >= {ANOMALY_MIN_BASELINE} AND std > 0
                THEN (n - mean) / std END AS z
    FROM calc
)
SELECT event_type,
       strftime(d, '%Y-%m-%d') AS day,
       n,
       CASE WHEN k > 0 THEN ROUND(mean, 6) END AS baseline_mean,
       CASE WHEN k >= {ANOMALY_MIN_BASELINE} AND std > 0 THEN ROUND(std, 6) END
           AS baseline_std,
       ROUND(z, 6) AS z_score,
       COALESCE(abs(z) > {ANOMALY_Z}, FALSE) AS is_anomaly
FROM zz
"""


# --- equi-width histogram ----------------------------------------------------

HIST_BUCKETS = 20


def q_value_histogram(
    spark: SparkSession, sf_dir: str, n_buckets: int = HIST_BUCKETS
) -> DataFrame:
    """Per-type equi-width histogram of ``value``: bucket index, bucket
    bounds, count — the distribution-drilldown complement of the exact
    quantiles (`events_quantiles`) and the GK sketch (`sketch_profile`).

    Scale shape: the global min/max come from ONE 1-row aggregate
    broadcast back (the range is data-defined), bucketing is codegen'd
    arithmetic, and the histogram is a partial-agg'd groupBy over
    ≤ types·buckets keys. Two scans total (range + bucket pass) — the
    unavoidable minimum for a data-defined range without approximation.
    Bucketing arithmetic is written EXPLICITLY and identically in both
    engines (floor((v−lo)/w)+1, max clamped into the top bucket) rather
    than via an engine width_bucket builtin, whose boundary rounding
    differs across implementations.
    """
    ev = load_events(spark, sf_dir)
    rng = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    w = (F.col("hi") - F.col("lo")) / n_buckets
    b = F.when(
        F.col("hi") > F.col("lo"),
        F.least(
            F.floor((F.col("value") - F.col("lo")) / w) + 1, F.lit(n_buckets)
        ),
    ).otherwise(1)
    return (
        ev.crossJoin(F.broadcast(rng))
        .select("event_type", b.alias("bucket"), "lo", w.alias("w"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count("*").alias("n"),
            F.round(F.first("lo") + (F.col("bucket") - 1) * F.first("w"), 6).alias(
                "bucket_lo"
            ),
            F.round(F.first("lo") + F.col("bucket") * F.first("w"), 6).alias(
                "bucket_hi"
            ),
        )
        .select(
            "event_type",
            F.col("bucket").cast("int").alias("bucket"),
            "bucket_lo",
            "bucket_hi",
            "n",
        )
    )


VALUE_HISTOGRAM_SQL = f"""
WITH rng AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
bucketed AS (
    SELECT event_type,
           CASE WHEN hi > lo
                THEN least(CAST(floor((value - lo) / ((hi - lo) / {HIST_BUCKETS})) AS BIGINT) + 1,
                           {HIST_BUCKETS})
                ELSE 1 END AS bucket,
           lo, (hi - lo) / {HIST_BUCKETS} AS w
    FROM events CROSS JOIN rng
)
SELECT event_type,
       CAST(bucket AS INT) AS bucket,
       ROUND(lo + (bucket - 1) * w, 6) AS bucket_lo,
       ROUND(lo + bucket * w, 6) AS bucket_hi,
       COUNT(*) AS n
FROM bucketed
GROUP BY event_type, bucket, lo, w
"""


def asof_join_forward(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
) -> DataFrame:
    """Forward as-of: each ``left_type`` event picks up the EARLIEST
    ``right_type`` event of the same user at-or-after its timestamp
    (``l.ts <= r.ts``) plus the count of right events still ahead — the
    time-to-conversion / next-event attribution direction, mirror of
    :func:`asof_join_events`.

    Same single-shuffle union-window shape, scanned in DESCENDING time
    order; at equal ``ts`` the right row sorts first so equality matches
    (``<=``). Linear in events, no range-join pair blow-up.
    """
    u = events.filter(
        F.col("event_type").isin(left_type, right_type)
    ).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == left_type).cast("int").alias("is_l"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").desc(), F.col("is_l").asc(), F.col("event_id").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    right_ts = F.when(F.col("is_l") == 0, F.col("ts"))
    return (
        u.withColumn("next_ts", F.last(right_ts, ignorenulls=True).over(w))
        .withColumn("n_ahead", F.sum(1 - F.col("is_l")).over(w))
        .filter(F.col("is_l") == 1)
        .select(
            "event_id",
            "user_id",
            F.unix_millis("ts").alias("ts_ms"),
            F.unix_millis("next_ts").alias("next_ts_ms"),
            (F.unix_millis("next_ts") - F.unix_millis("ts")).alias("lead_ms"),
            "n_ahead",
        )
    )


def q_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    return asof_join_forward(load_events(spark, sf_dir))


ASOF_FORWARD_SQL = """
WITH l AS (SELECT event_id, user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'click'),
     r AS (SELECT user_id, ts::TIMESTAMP AS ts FROM events WHERE event_type = 'purchase')
SELECT l.event_id,
       l.user_id,
       epoch_ms(l.ts) AS ts_ms,
       epoch_ms(r.ts) AS next_ts_ms,
       epoch_ms(r.ts) - epoch_ms(l.ts) AS lead_ms,
       (SELECT COUNT(*) FROM r r2
         WHERE r2.user_id = l.user_id AND r2.ts >= l.ts) AS n_ahead
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def q_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user activity 360: first/last seen, active days, event count,
    distinct event types, total value, and the user's dominant event type
    with its share — the entity-summary table a serving layer keys on.

    Scale shape: ONE aggregation over user_id for the scalar profile
    (every aggregate partial-combines map-side), plus a (user_id,
    event_type) aggregation whose argmax runs as a window over the
    already-aggregated table (≤ users × types rows, never events).
    Exact decimal for the value sum; counts integer — hash-stable.
    """
    ev = load_events(spark, sf_dir)
    base = ev.groupBy("user_id").agg(
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias("first_seen"),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias("last_seen"),
        F.count_distinct(F.to_date("ts")).alias("active_days"),
        F.count("*").alias("n_events"),
        F.count_distinct("event_type").alias("n_types"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias(
            "total_value"
        ),
    )
    by_type = ev.groupBy("user_id", "event_type").agg(F.count("*").alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    top = (
        by_type.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("top_type"),
            F.col("n").alias("top_n"),
        )
    )
    return base.join(top, "user_id").select(
        "user_id",
        "first_seen",
        "last_seen",
        "active_days",
        "n_events",
        "n_types",
        "total_value",
        "top_type",
        F.round(F.col("top_n") / F.col("n_events"), 6).alias("top_type_share"),
    )


USER_PROFILE_SQL = """
WITH base AS (
    SELECT user_id,
           strftime(MIN(ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS first_seen,
           strftime(MAX(ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS last_seen,
           COUNT(DISTINCT CAST(ts::TIMESTAMP AS DATE)) AS active_days,
           COUNT(*) AS n_events,
           COUNT(DISTINCT event_type) AS n_types,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events GROUP BY user_id
),
by_type AS (
    SELECT user_id, event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
top AS (
    SELECT user_id, event_type AS top_type, n AS top_n,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rk
    FROM by_type QUALIFY rk = 1
)
SELECT b.user_id, b.first_seen, b.last_seen, b.active_days, b.n_events,
       b.n_types, b.total_value, t.top_type,
       ROUND(CAST(t.top_n AS DOUBLE) / b.n_events, 6) AS top_type_share
FROM base b JOIN top t ON b.user_id = t.user_id
"""


# --- time-series gap fill (dense resample + LOCF) ----------------------------


def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample per event_type over the corpus' [min, max]
    hour range: every (hour, type) cell exists, missing cells get n=0,
    ``is_gap`` marks them, and ``sum_value_locf`` carries the last
    observed hourly sum forward (timescaledb-style ``locf()`` gap fill).

    Scale shape: the only corpus-sized work is the hourly pre-aggregation
    (one shuffle). The spine is ``sequence(min_hour, max_hour)`` exploded
    from a 1-row bounds aggregate crossed with the distinct type table —
    its size is hours × types, independent of event count — and the LOCF
    window runs over that dense table, partitioned by type.
    """
    ev = load_events(spark, sf_dir)
    hour = F.date_trunc("hour", F.col("ts"))
    hourly = ev.groupBy(
        hour.alias("h"), "event_type"
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
    )
    bounds = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.expr("interval 1 hour"))).alias("h")
    )
    types = ev.select("event_type").distinct()
    dense = (
        spine.crossJoin(F.broadcast(types))
        .join(hourly, ["h", "event_type"], "left")
        .select(
            "h",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n"),
            "sum_value",
            F.col("n").isNull().alias("is_gap"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        F.round(F.last("sum_value", ignorenulls=True).over(w), 6).alias(
            "sum_value_locf"
        ),
        "is_gap",
    )


GAP_FILL_SQL = r"""
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts::TIMESTAMP) AS h, event_type,
         COUNT(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT time_bucket(INTERVAL '1 hour', MIN(ts::TIMESTAMP)) AS h0,
         time_bucket(INTERVAL '1 hour', MAX(ts::TIMESTAMP)) AS h1
  FROM events
),
spine AS (
  SELECT unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h FROM bounds
),
types AS (SELECT DISTINCT event_type FROM events),
dense AS (
  SELECT s.h, t.event_type, COALESCE(x.n, 0) AS n, x.sum_value,
         x.n IS NULL AS is_gap
  FROM spine s CROSS JOIN types t
  LEFT JOIN hourly x ON s.h = x.h AND t.event_type = x.event_type
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, n,
       ROUND(last_value(sum_value IGNORE NULLS) OVER (
         PARTITION BY event_type ORDER BY h
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS sum_value_locf,
       is_gap
FROM dense
"""


# --- pivot: hour-of-day × event-type matrix ----------------------------------

PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day × event-type count matrix via the relational PIVOT
    operator — the wide-report shape dashboards read (one row per hour,
    one column per event type).

    Scale shape: ``pivot`` with an EXPLICIT value list plans as ONE
    two-phase hash aggregate — map-side partial per (hour, type) then a
    single shuffle on the 24 hour keys; the column expansion happens in
    the aggregate expressions, never as per-type scans or joins. An
    implicit pivot (no value list) would add a distinct-values collect
    job first — always pass the list at scale. Absent cells coalesce to
    0 so the matrix is dense and hash-stable.
    """
    ev = load_events(spark, sf_dir)
    piv = (
        ev.groupBy(F.hour("ts").cast("int").alias("hour"))
        .pivot("event_type", PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "hour", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in PIVOT_TYPES]
    )


EVENTS_PIVOT_SQL = """
SELECT CAST(hour(ts::TIMESTAMP) AS INT) AS hour,
       COUNT(*) FILTER (event_type = 'click')    AS click,
       COUNT(*) FILTER (event_type = 'error')    AS error,
       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (event_type = 'signup')   AS signup,
       COUNT(*) FILTER (event_type = 'view')     AS view
FROM events
GROUP BY 1
"""


# --- set operations: user-segment overlap ------------------------------------


def q_segment_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra over distinct user sets: who both clicked and
    purchased (INTERSECT), who clicked but never purchased (EXCEPT), and
    the reverse — the segment-overlap report behind every funnel/cohort
    comparison. The oracle IS the INTERSECT/EXCEPT SQL, so the query is
    pinned to true set-algebra semantics.

    Scale shape: the naive form — ``intersect``/``subtract`` per segment —
    plans as 3 independent agg+semi/anti pipelines that re-scan the fact
    table 6 times and shuffle 6 times (measured). N-way set overlap folds
    into ONE pass instead: per-user membership flags (one shuffle with
    map-side partial max), then a single global flag-combination count —
    the standard bitmap/flag rewrite for audience overlap. The engine-
    native operators stay available on the distinct sets; pytest pins this
    rewrite equal to their composition.
    """
    ev = load_events(spark, sf_dir)
    is_c = (F.col("event_type") == "click").cast("int")
    is_p = (F.col("event_type") == "purchase").cast("int")
    flags = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(F.max(is_c).alias("c"), F.max(is_p).alias("p"))
    )
    counts = flags.agg(
        F.sum(((F.col("c") == 1) & (F.col("p") == 1)).cast("long")).alias("cp"),
        F.sum(((F.col("c") == 1) & (F.col("p") == 0)).cast("long")).alias("co"),
        F.sum(((F.col("c") == 0) & (F.col("p") == 1)).cast("long")).alias("po"),
    )
    return counts.select(
        F.expr(
            "stack(3, 'click_and_purchase', cp, 'click_only', co,"
            " 'purchase_only', po)"
        ).alias("segment", "n_users")
    )


SEGMENT_OVERLAP_SQL = """
WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
     p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
SELECT 'click_and_purchase' AS segment,
       (SELECT COUNT(*) FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)) AS n_users
UNION ALL
SELECT 'click_only',
       (SELECT COUNT(*) FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p))
UNION ALL
SELECT 'purchase_only',
       (SELECT COUNT(*) FROM (SELECT user_id FROM p EXCEPT SELECT user_id FROM c))
"""


def q_events_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the hour × event-type matrix back to long form with the
    relational UNPIVOT — the wide-to-long reshape every feature store and
    plotting layer needs (inverse of :func:`q_events_pivot`, which pins
    round-trip semantics).

    Scale shape: ``unpivot`` is a row-local expand (each input row emits
    one row per value column) — NO shuffle of its own; the only exchanges
    are the pivot aggregation it consumes. Column names become values, so
    the melt is schema-driven and adding a type never rewrites the
    operator."""
    wide = q_events_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["hour"],
        values=PIVOT_TYPES,
        variableColumnName="event_type",
        valueColumnName="n",
    )


EVENTS_UNPIVOT_SQL = f"""
SELECT hour, event_type, n
FROM ({EVENTS_PIVOT_SQL.strip()}) wide
UNPIVOT INCLUDE NULLS (n FOR event_type IN (click, error, purchase, signup, view))
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition profile of user behavior: for every
    (from_type → to_type) pair of CONSECUTIVE events of the same user,
    the global count and the row-conditional probability
    p(to | from) — the input to next-action prediction, journey mining,
    and bot detection (improbable transition chains).

    Scale shape: one window shuffle on user_id (lag over each user's
    timeline — the sessionize partitioning, reusable across both), then
    one ≤|types|² aggregation; the probability denominator is a window
    over the already-aggregated 25-row table, not a second pass. Tie
    order pinned (ts, event_id) so consecutive-pair extraction is
    engine-deterministic. Exact integer counts; the probability divides
    two integers, so the double is engine-identical.
    """
    ev = load_events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            F.lag("event_type").over(w).alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .filter(F.col("from_type").isNotNull())
    )
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    w_from = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        F.round(
            F.col("n").cast("double") / F.sum("n").over(w_from), 6
        ).alias("p_to_given_from"),
    )


EVENT_TRANSITIONS_SQL = """
WITH pairs AS (
    SELECT LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS from_type,
           event_type AS to_type
    FROM events
),
counts AS (
    SELECT from_type, to_type, COUNT(*) AS n
    FROM pairs WHERE from_type IS NOT NULL
    GROUP BY from_type, to_type
)
SELECT from_type, to_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type), 6)
           AS p_to_given_from
FROM counts
"""


def q_session_paths(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Top-k user journeys: the most frequent within-session event-type
    paths ("view>click>purchase") — the journey-mining report behind
    funnel design and anomaly triage (a path that suddenly enters the
    top-k is a product change or a bot).

    Scale shape: rides on the sessionizer's single user_id shuffle; each
    session's path assembles IN-ROW from a sort_array'd struct collect
    (events within one session are bounded by the session, never the
    stream), the path frequency count aggregates ≤|sessions| rows, and
    the top-k is TakeOrderedAndProject. Tie order inside a path is
    pinned (ts, event_id); path ties in the ranking break on the path
    string.
    """
    ev = load_events(spark, sf_dir)
    sess = sessionize(ev)
    paths = (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"), F.col("event_type")
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(k)
    )


def session_paths_sql(k: int = 20, gap_minutes: int = SESSION_GAP_MIN) -> str:
    return f"""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_ms(ts::TIMESTAMP)
                     - LAG(epoch_ms(ts::TIMESTAMP))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > {gap_minutes * 60 * 1000}
                THEN 1 ELSE 0 END AS new_session
    FROM events
),
sessions AS (
    SELECT user_id, event_type, ts, event_id,
           SUM(new_session) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM ordered
),
paths AS (
    SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS path
    FROM sessions
    GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path ASC
LIMIT {k}
"""


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC bars per event type over ``value`` — the financial
    resample (open/high/low/close) that generalizes to any sensor/metric
    stream; open/close are positional aggregates (earliest/latest row's
    value), high/low are plain extremes.

    Scale shape: ONE two-phase aggregation — ``min_by``/``max_by``
    (positional argmin/argmax aggregates) partial-combine map-side like
    any min/max, so open/close cost the same as high/low: no window, no
    sort, no self-join back to find the boundary rows. The ordering key
    is the struct (ts, event_id) — min_by/max_by order structs
    lexicographically, so the tie-break is total for ANY ts horizon and
    id range (a packed ts*2^22+id BIGINT overflows past ~2039 and
    corrupts ordering for event_id ≥ 2^22; the struct can't).
    """
    ev = load_events(spark, sf_dir)
    okey = F.struct(F.col("ts"), F.col("event_id"))
    val = F.col("value").cast("decimal(18,2)")
    return (
        ev.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:mm:ss"
            ).alias("hour"),
            "event_type",
        )
        .agg(
            F.min_by(val, okey).cast("double").alias("open"),
            F.max(val).cast("double").alias("high"),
            F.min(val).cast("double").alias("low"),
            F.max_by(val, okey).cast("double").alias("close"),
            F.count("*").alias("n"),
        )
    )


EVENTS_OHLC_SQL = """
SELECT strftime(date_trunc('hour', ts::TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       CAST(first(CAST(value AS DECIMAL(18,2))
                  ORDER BY ts, event_id) AS DOUBLE) AS open,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS high,
       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS low,
       CAST(last(CAST(value AS DECIMAL(18,2))
                 ORDER BY ts, event_id) AS DOUBLE) AS close,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


SEQ_PATTERN = "signup(>view)+>purchase"  # the strict onboarding path


def q_sequence_match(
    spark: SparkSession, sf_dir: str, pattern: str = SEQ_PATTERN
) -> DataFrame:
    """Behavioral pattern matching over each user's ORDERED event-type
    sequence (the ClickHouse ``sequenceMatch`` shape): did the user's
    timeline ever contain the pattern (default: the STRICT
    signup→views→purchase onboarding path — views only, no detour)? Output: per-pattern-match
    flag counts — the cohort split every activation analysis starts from.

    Scale shape: each user's type string assembles IN-ROW from one
    sort_array'd collect over the user shuffle (the session_paths
    discipline — bounded by the user's event count, and a 100 TB
    timeline would cap/segment the collect the same way state stores
    cap sessions); the regex runs once per USER on that string, not per
    event, and the final rollup is 2 rows. Tie order (ts, event_id)
    pinned. The '.' in the pattern can never match a separator-spoofed
    type because types come from a closed vocabulary — for open
    vocabularies use a non-type separator char in both engines.
    """
    ev = load_events(spark, sf_dir)
    seqs = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("ts"), F.col("event_id"), F.col("event_type")
                            )
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("seq")
        )
    )
    matched = seqs.select(
        F.col("seq").rlike(pattern).alias("matched")
    )
    return matched.groupBy("matched").agg(F.count("*").alias("n_users"))


def sequence_match_sql(pattern: str = SEQ_PATTERN) -> str:
    return f"""
WITH seqs AS (
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq
    FROM events GROUP BY user_id
)
SELECT regexp_matches(seq, '{pattern}') AS matched, COUNT(*) AS n_users
FROM seqs GROUP BY 1
"""


def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert KPI: per event type that FOLLOWS a user's first
    signup, how many users ever did it and the p50/p90 lag from signup — the activation
    dashboard's core rows (one per type).

    Scale shape: the first-signup table is a ≤|users| aggregate joined
    back (broadcast-or-shuffle under AQE); post-signup events reduce to
    one (user, type, first-lag) row BEFORE percentiles, so the exact
    percentile sorts ≤|users|·|types| rows per group, never events.
    Integer millisecond lags → engine-identical quantile interpolation
    (same contract as events_quantiles).
    """
    ev = load_events(spark, sf_dir)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(F.unix_millis("ts")).alias("signup_ms"))
    )
    post = (
        ev.filter(F.col("event_type") != "signup")
        .select("user_id", "event_type", F.unix_millis("ts").alias("ms"))
        .join(signups, "user_id")
        .filter(F.col("ms") >= F.col("signup_ms"))
        .groupBy("user_id", "event_type")
        .agg(F.min(F.col("ms") - F.col("signup_ms")).alias("lag_ms"))
    )
    return post.groupBy("event_type").agg(
        F.count("*").alias("n_converted"),
        F.round(F.expr("percentile(lag_ms, 0.5)"), 6).alias("p50_lag_ms"),
        F.round(F.expr("percentile(lag_ms, 0.9)"), 6).alias("p90_lag_ms"),
    )


CONVERSION_LAG_SQL = """
WITH signups AS (
    SELECT user_id, MIN(epoch_ms(ts::TIMESTAMP)) AS signup_ms
    FROM events WHERE event_type = 'signup' GROUP BY user_id
),
post AS (
    SELECT e.user_id, e.event_type,
           MIN(epoch_ms(e.ts::TIMESTAMP) - s.signup_ms) AS lag_ms
    FROM events e JOIN signups s ON e.user_id = s.user_id
    WHERE e.event_type <> 'signup'
      AND epoch_ms(e.ts::TIMESTAMP) >= s.signup_ms
    GROUP BY e.user_id, e.event_type
)
SELECT event_type, COUNT(*) AS n_converted,
       ROUND(quantile_cont(lag_ms, 0.5), 6) AS p50_lag_ms,
       ROUND(quantile_cont(lag_ms, 0.9), 6) AS p90_lag_ms
FROM post GROUP BY event_type
"""
