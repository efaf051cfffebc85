"""Slowly-changing-dimension (SCD type 2) maintenance.

The warehouse-side sibling of the engine's MERGE paths: apply an update
batch to a versioned dimension, closing out rows whose tracked attributes
changed (``valid_to`` = batch ts), inserting the new versions, and
leaving history plus unchanged rows untouched — idempotent when the
update restates current values.

Plan shape: ONE equi-join of the CURRENT slice with the update batch on
the business key (history rows never join anything), change detection is
a row-local null-safe comparison, and the result is a 3-branch union
(history ∪ carried/closed current ∪ inserted versions) that stays a
single lazy plan. At 100 TB the update batch is the small side —
broadcast — and with the dimension stored as Delta this collapses to
``MERGE INTO`` (see operators/merge_delta.py); the relational form here
is the format-agnostic fallback and the semantics oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graphdb_neo4j_spark.session import widen_scan
from graphdb_neo4j_spark.sources.tpch import load_table

DIM_START = "2020-01-01 00:00:00"
BATCH_TS = "2024-01-01 00:00:00"


def scd2_apply(
    dim: DataFrame,
    updates: DataFrame,
    key: str,
    tracked: list[str],
    batch_ts: str,
) -> DataFrame:
    """Apply ``updates`` (key + tracked attribute columns) to an SCD2
    ``dim`` (key + tracked + valid_from + valid_to, valid_to null =
    current). Returns the full post-batch dimension."""
    ts = F.lit(batch_ts).cast("timestamp")
    history = dim.filter(F.col("valid_to").isNotNull())
    current = dim.filter(F.col("valid_to").isNull())

    upd = updates.select(
        F.col(key),
        *[F.col(c).alias(f"_new_{c}") for c in tracked],
        F.lit(True).alias("_has_update"),
    )
    joined = current.join(F.broadcast(upd), key, "full_outer")
    # null-safe "any tracked attr differs" (an update may set an attr to NULL)
    diff = None
    for c in tracked:
        term = ~F.col(c).eqNullSafe(F.col(f"_new_{c}"))
        diff = term if diff is None else (diff | term)
    has_update = F.coalesce(F.col("_has_update"), F.lit(False))
    # dim rows always carry a non-null valid_from; brand-new keys join
    # with a null dim side
    in_dim = F.col("valid_from").isNotNull()

    carried = joined.filter(in_dim).select(
        key,
        *tracked,
        "valid_from",
        F.when(has_update & diff, ts).otherwise(F.col("valid_to")).alias(
            "valid_to"
        ),
    )
    inserted = joined.filter(has_update & (diff | ~in_dim)).select(
        key,
        *[F.col(f"_new_{c}").alias(c) for c in tracked],
        ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    return history.unionByName(carried).unionByName(inserted)


def q_scd2_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered SCD2 scenario, fully deterministic from the fixture:
    the dimension starts as every customer's mktsegment valid from
    DIM_START; the update batch restates segment for custkey % 3 == 0 as
    'SEG_' || nationkey (a real change except where it accidentally
    restates); output is the post-batch dimension with an is_current
    flag. Keys with custkey % 3 != 0 must pass through byte-identical."""
    cust = widen_scan(load_table(spark, sf_dir, "customer"))
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(DIM_START).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("SEG_"), F.col("c_nationkey")).alias("segment"),
    )
    out = scd2_apply(dim, updates, "custkey", ["segment"], BATCH_TS)
    return out.select(
        "custkey",
        "segment",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        F.col("valid_to").isNull().alias("is_current"),
    )


SCD2_CUSTOMERS_SQL = rf"""
WITH dim AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         TIMESTAMP '{DIM_START}' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer
),
upd AS (
  SELECT c_custkey AS custkey, 'SEG_' || c_nationkey AS segment
  FROM customer WHERE c_custkey % 3 = 0
),
joined AS (
  SELECT d.custkey AS d_key, d.segment, d.valid_from, d.valid_to,
         u.custkey AS u_key, u.segment AS new_segment
  FROM dim d FULL OUTER JOIN upd u ON d.custkey = u.custkey
),
carried AS (
  SELECT d_key AS custkey, segment, valid_from,
         CASE WHEN u_key IS NOT NULL AND segment IS DISTINCT FROM new_segment
              THEN TIMESTAMP '{BATCH_TS}' ELSE valid_to END AS valid_to
  FROM joined WHERE d_key IS NOT NULL
),
inserted AS (
  SELECT u_key AS custkey, new_segment AS segment,
         TIMESTAMP '{BATCH_TS}' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM joined
  WHERE u_key IS NOT NULL
    AND (d_key IS NULL OR segment IS DISTINCT FROM new_segment)
)
SELECT custkey, segment,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
       valid_to IS NULL AS is_current
FROM (SELECT * FROM carried UNION ALL SELECT * FROM inserted)
"""


# --- CDC apply (last-writer-wins with deletes) -------------------------------
#
# The other half of dimension maintenance: SCD2 above keeps HISTORY for
# in-place updates; CDC apply COLLAPSES a change feed (insert/update/delete
# ops) to current state — the standard lakehouse "apply changes" operator
# (Delta CDF consumers, Debezium sinks, Hudi/Iceberg upsert tails).


def cdc_apply(changes: DataFrame, key: str, op_col: str, seq_col: str) -> DataFrame:
    """Current state from a change feed: for each key, the op with the
    highest ``seq_col`` wins; a winning ``delete`` removes the key, any
    other op keeps the row's payload.

    Scale shape: ONE aggregation — ``max_by(struct(payload...), seq)``
    collapses each key map-side (partial-combined like any max), so the
    shuffle carries one candidate row per key per partition, never the
    feed; the delete filter is row-local afterwards. No window, no sort,
    no join against the feed. ``seq_col`` must be a total order per key
    (CDC sources provide an LSN/offset; a struct column such as
    (ts, event_id) works — max_by orders structs lexicographically).
    """
    payload = [c for c in changes.columns if c not in (key,)]
    winner = F.max_by(F.struct(*payload), F.col(seq_col))
    return (
        changes.groupBy(key)
        .agg(winner.alias("w"))
        .select(key, "w.*")
        .filter(F.col(op_col) != "delete")
        .drop(seq_col)
    )


def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form over a deterministic change feed derived from the
    events table: signup=insert, purchase/view/click=update (value is the
    payload), error=delete — per user, the LAST op by (ts, event_id)
    decides existence and final value. The feed derivation is shared
    verbatim with the oracle, so the operator under test is the collapse
    itself."""
    from graphdb_neo4j_spark.operators.events import load_events

    ev = load_events(spark, sf_dir)
    op = (
        F.when(F.col("event_type") == "signup", "insert")
        .when(F.col("event_type") == "error", "delete")
        .otherwise("update")
    )
    seq = F.struct(F.col("ts"), F.col("event_id"))
    changes = ev.select(
        "user_id",
        op.alias("op"),
        F.col("value").cast("decimal(18,2)").alias("value"),
        seq.alias("seq"),
    )
    out = cdc_apply(changes, key="user_id", op_col="op", seq_col="seq")
    return out.select(
        "user_id", "op", F.col("value").cast("double").alias("value")
    )


CDC_APPLY_SQL = """
WITH changes AS (
    SELECT user_id,
           CASE WHEN event_type = 'signup' THEN 'insert'
                WHEN event_type = 'error' THEN 'delete'
                ELSE 'update' END AS op,
           CAST(value AS DECIMAL(18,2)) AS value,
           ts::TIMESTAMP AS ts, event_id
    FROM events
),
-- op and value MUST come from the same winning row (two independent
-- arg_max calls skip NULL args, silently diverging from last-writer-wins
-- when the winner carries a NULL payload); ordered last() keeps NULLs.
collapsed AS (
    SELECT user_id,
           last(op ORDER BY ts, event_id) AS op,
           last(value ORDER BY ts, event_id) AS value
    FROM changes GROUP BY user_id
)
SELECT user_id, op, CAST(value AS DOUBLE) AS value
FROM collapsed WHERE op <> 'delete'
"""


# --- point-in-time (temporal validity) join ----------------------------------
#
# The CONSUMING half of SCD2: join each fact row to the dimension version
# that was valid WHEN THE FACT HAPPENED (as_of ∈ [valid_from, valid_to)) —
# the lookup every type-2 warehouse query runs, and the reason the history
# is kept at all.


def pointintime_join(
    facts: DataFrame,
    dim: DataFrame,
    key: str,
    as_of_col: str,
) -> DataFrame:
    """facts ⋈ dim on ``key`` picking the dimension version whose
    [valid_from, valid_to) interval contains ``facts[as_of_col]``.

    Scale shape: this is NOT a range join — the equality on ``key``
    drives the join (hash/sort-merge on the key, co-partitionable with
    the fact table), and the validity interval is a RESIDUAL predicate
    evaluated on the ≤versions-per-key matches (SCD2 dimensions carry a
    handful of versions per key). Every fact row matches at most one
    version by construction (intervals partition the timeline), so no
    dedup step follows."""
    interval = (F.col(as_of_col) >= dim["valid_from"]) & (
        dim["valid_to"].isNull() | (F.col(as_of_col) < dim["valid_to"])
    )
    return facts.join(dim, (facts[key] == dim[key]) & interval).drop(dim[key])


def q_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered point-in-time scenario: orders join the post-batch SCD2
    customer dimension (:func:`q_scd2_customers`'s exact build) as of the
    order date shifted +27 years (orders run 1995-2001, the dimension era
    starts 2020 — the shift spans both sides of the 2024 restatement, so
    every version is exercised). Output: per segment-version, order count
    and revenue — the "metrics by the attribute AS IT WAS" report."""
    cust = widen_scan(load_table(spark, sf_dir, "customer"))
    dim = cust.select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(DIM_START).cast("timestamp").alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    updates = cust.filter(F.col("c_custkey") % 3 == 0).select(
        F.col("c_custkey").alias("custkey"),
        F.concat(F.lit("SEG_"), F.col("c_nationkey")).alias("segment"),
    )
    scd = scd2_apply(dim, updates, "custkey", ["segment"], BATCH_TS)
    orders = load_table(spark, sf_dir, "orders")
    facts = orders.select(
        F.col("o_custkey").alias("custkey"),
        (F.col("o_orderdate") + F.expr("INTERVAL 27 YEARS")).alias("as_of"),
        F.col("o_totalprice").cast("decimal(15,2)").alias("price"),
    )
    joined = pointintime_join(facts, scd, "custkey", "as_of")
    return joined.groupBy("segment").agg(
        F.count("*").alias("n_orders"),
        F.sum("price").cast("double").alias("revenue"),
    )


TEMPORAL_JOIN_SQL = rf"""
WITH dim AS (
  SELECT c_custkey AS custkey, c_mktsegment AS segment,
         TIMESTAMP '{DIM_START}' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to
  FROM customer
),
upd AS (
  SELECT c_custkey AS custkey, 'SEG_' || c_nationkey AS segment
  FROM customer WHERE c_custkey % 3 = 0
),
changed AS (
  SELECT d.custkey FROM dim d JOIN upd u ON d.custkey = u.custkey
  WHERE d.valid_to IS NULL AND d.segment <> u.segment
),
scd AS (
  -- untouched versions pass through
  SELECT d.custkey, d.segment, d.valid_from, d.valid_to
  FROM dim d WHERE d.custkey NOT IN (SELECT custkey FROM changed)
  UNION ALL
  -- closed-out old versions
  SELECT d.custkey, d.segment, d.valid_from,
         TIMESTAMP '{BATCH_TS}' AS valid_to
  FROM dim d WHERE d.custkey IN (SELECT custkey FROM changed)
  UNION ALL
  -- new current versions
  SELECT u.custkey, u.segment, TIMESTAMP '{BATCH_TS}', CAST(NULL AS TIMESTAMP)
  FROM upd u WHERE u.custkey IN (SELECT custkey FROM changed)
),
facts AS (
  SELECT o_custkey AS custkey,
         o_orderdate::TIMESTAMP + INTERVAL 27 YEAR AS as_of,
         CAST(o_totalprice AS DECIMAL(15,2)) AS price
  FROM orders
)
SELECT s.segment, COUNT(*) AS n_orders, CAST(SUM(f.price) AS DOUBLE) AS revenue
FROM facts f JOIN scd s
  ON f.custkey = s.custkey
 AND f.as_of >= s.valid_from
 AND (s.valid_to IS NULL OR f.as_of < s.valid_to)
GROUP BY s.segment
"""
