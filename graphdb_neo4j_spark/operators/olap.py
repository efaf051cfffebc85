"""Classic OLAP aggregation queries over the fact tables.

These go beyond the reference's tiny aggregation surface (MAX/COUNT —
SURVEY.md §2.4) to prove out the engine's grouped-aggregation path:
partial+final hash aggregation, whole-stage codegen, and pushdown all come
from Catalyst. They are the stable bench anchors (bench.py).

Numeric policy: money/discount columns are 2-decimal by data contract, so
aggregates run on exact DECIMAL internally and cast to DOUBLE only at the
output — summation order can't perturb the result, keeping the DuckDB
oracle hash bit-stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from graphdb_neo4j_spark.session import materialize
from graphdb_neo4j_spark.sources.tpch import load_table


def _dec(col: str, prec: int = 15, scale: int = 2) -> F.Column:
    return F.col(col).cast(f"decimal({prec},{scale})")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: groupBy 2 low-cardinality keys,
    8 aggregates. Scan-dominated; partial aggregation makes the shuffle a
    few dozen rows regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    qty = _dec("l_quantity")
    price = _dec("l_extendedprice")
    disc = _dec("l_discount", 4, 2)
    tax = _dec("l_tax", 4, 2)
    disc_price = price * (F.lit(1).cast("decimal(3,2)") - disc)
    charge = disc_price * (F.lit(1).cast("decimal(3,2)") + tax)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / F.count("*")).alias("avg_qty"),
            (F.sum(price).cast("double") / F.count("*")).alias("avg_price"),
            (F.sum(disc).cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(15,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_top_parts_by_revenue(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """Join + agg + deterministic top-k: revenue per part across the fact
    table; exact decimal revenue, TakeOrderedAndProject at the end."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    return (
        li.groupBy("l_partkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .join(
            F.broadcast(part.select("p_partkey", "p_name")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            F.col("p_partkey").cast("long").alias("partkey"),
            F.col("p_name").alias("part_name"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("partkey"))
        .limit(k)
    )


def top_parts_by_revenue_sql(k: int = 20) -> str:
    return f"""
SELECT p_partkey AS partkey, p_name AS part_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_partkey, p_name
ORDER BY revenue DESC, partkey ASC
LIMIT {k}
"""


def q_top_parts_per_nation(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Per-group top-k (window rank): each supplier nation's ``k``
    highest-revenue parts — the grouped version of the global top-k, the
    canonical dense_rank/filter pattern.

    Scale shape: revenue aggregates FIRST to (nation, partkey) — the
    window then ranks the aggregated table (≤ nations × parts rows), not
    the fact table. The supplier→nation dimension path is two broadcast
    joins (tiny dims); the only big shuffle is the (suppkey) join of
    lineitem to supplier and the (nation, partkey) aggregation. Rank ties
    break on partkey so the result is deterministic.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    from pyspark.sql import Window

    dim = F.broadcast(
        supp.select("s_suppkey", "s_nationkey").join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
    )
    per_part = (
        li.join(dim, F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("n_name", "l_partkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(
        F.desc("revenue"), F.asc("l_partkey")
    )
    return (
        per_part.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("n_name").alias("nation"),
            F.col("l_partkey").cast("long").alias("partkey"),
            "revenue",
            F.col("rk").cast("int").alias("rk"),
        )
    )


def top_parts_per_nation_sql(k: int = 3) -> str:
    return f"""
WITH per_part AS (
    SELECT n_name AS nation, l_partkey AS partkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    GROUP BY 1, 2
)
SELECT nation, partkey, revenue,
       CAST(ROW_NUMBER() OVER (PARTITION BY nation ORDER BY revenue DESC, partkey ASC) AS INT) AS rk
FROM per_part
QUALIFY rk <= {k}
"""


def q_shipping_priority(spark: SparkSession, sf_dir: str, k: int = 10) -> DataFrame:
    """TPC-H Q3-shaped shipping priority: 3-table join with per-table
    filters, grouped revenue, top-k unshipped orders.

    Scale shape: both dimension-side filters are pushed to the scans
    (PushedFilters on c_mktsegment and o_orderdate), the filtered
    customer KEY SET is broadcast into orders (a semi-join — customer
    carries no payload columns past its scan), and the surviving orders
    (keys + 2 group columns) broadcast-or-shuffle into lineitem under
    AQE's runtime size decision. The only full-size shuffle is the final
    (orderkey) aggregation, which partial-aggregates map-side. Top-k is
    TakeOrderedAndProject — no global sort materialization.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    cust_keys = cust.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    open_orders = (
        orders.filter(F.col("o_orderdate") < F.lit("1998-01-01"))
        .join(F.broadcast(cust_keys), F.col("o_custkey") == F.col("c_custkey"), "semi")
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    return (
        li.filter(F.col("l_shipdate") > F.lit("1998-01-01"))
        .join(open_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(
            F.col("l_orderkey").cast("long").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_orderpriority").alias("orderpriority"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("orderdate"), F.asc("orderkey"))
        .limit(k)
    )


def shipping_priority_sql(k: int = 10) -> str:
    return f"""
SELECT l_orderkey AS orderkey, o_orderdate AS orderdate,
       o_orderpriority AS orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, orderdate ASC, orderkey ASC
LIMIT {k}
"""


def q_nation_revenue(spark: SparkSession, sf_dir: str, region: str = "ASIA") -> DataFrame:
    """TPC-H Q5-shaped local-supplier volume: 6-table join (lineitem ⋈
    orders ⋈ customer ⋈ supplier ⋈ nation ⋈ region) with the Q5 twist
    that customer and supplier must share a nation, aggregated to revenue
    per nation within one region.

    Scale shape: region→nation→(customer, supplier) is a pure broadcast
    dimension cascade (all three dims are tiny; the region filter prunes
    nation before it ever touches a fact table). The fact-side joins are
    the only shuffles: lineitem⋈orders on orderkey, then the customer/
    supplier nation equality is evaluated as two broadcast hash joins
    with the ``c_nationkey = s_nationkey`` residual — no fact-fact
    shuffle beyond the orderkey join. Output is ≤ #nations rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    region_nations = F.broadcast(
        nation.join(
            F.broadcast(reg.filter(F.col("r_name") == region)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        li.join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01"))
                & (F.col("o_orderdate") < F.lit("1998-01-01"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(region_nations, F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
        .select(F.col("n_name").alias("nation"), "revenue")
    )


def nation_revenue_sql(region: str = "ASIA") -> str:
    return f"""
SELECT n_name AS nation,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = '{region}'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped EXISTS probe: per-priority count of orders that had
    at least one line item shipped more than 90 days after the order date.

    Scale shape: the EXISTS is a LEFT SEMI hash join on orderkey with the
    date comparison as the join residual — lineitem contributes only
    (orderkey, shipdate) after column pruning, duplicates collapse inside
    the semi join (no post-join distinct), and the final aggregation is
    5 rows after map-side partial agg. The orders-side date filter is
    pushed to the scan.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    o = (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1998-01-01"))
        )
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    late = o.join(
        li.select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 90)),
        "semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .select(F.col("o_orderpriority").alias("orderpriority"), "order_count")
    )


LATE_SHIPMENT_PRIORITY_SQL = """
SELECT o_orderpriority AS orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o_orderpriority
"""


def q_promo_revenue_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19-shaped disjunctive join filter: revenue from lineitems
    whose PART matches any of three (brand, size-range, quantity-range)
    clause groups — an OR-of-ANDs spanning both join sides.

    Scale shape: the part-side half of each disjunct (brand ∈ …, size
    range) pushes to the part scan as one OR predicate (`PushedFilters`
    carries the Or tree); survivors broadcast into lineitem, and the
    cross-side residual (each disjunct's quantity range tied to ITS
    brand group) evaluates inside the broadcast join. The lineitem scan
    keeps a pushed quantity envelope (the union of the ranges) — Catalyst
    derives it by constant-folding the disjunction, so the fact scan
    skips row groups even though the precise predicate needs the join.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    p = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 15))
    )
    both = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30))
    )
    return (
        li.filter(F.col("l_quantity").between(1, 30))
        .join(
            F.broadcast(part.filter(p).select("p_partkey", "p_brand", "p_size")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .filter(both)
        .groupBy("p_brand")
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
        .select(F.col("p_brand").alias("brand"), "revenue", "n_lines")
    )


PROMO_REVENUE_DISJUNCTIVE_SQL = """
SELECT p_brand AS brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_quantity BETWEEN 1 AND 30
  AND ((p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5  AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 20 AND 30))
GROUP BY p_brand
"""


def q_top_return_customers(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q10-shaped returned-item ranking: customers who returned the
    most revenue in one quarter, with their nation attached.

    Scale shape: both fact filters push to the scans (returnflag on
    lineitem, the date range on orders); lineitem⋈orders is the one real
    shuffle; revenue aggregates to ≤|customers| rows BEFORE the customer
    and nation dimensions broadcast on; top-k is TakeOrderedAndProject.
    Aggregating before the dimension joins keeps the join build sides
    payload-free — the classic "join late, join small" reporting shape.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01"))
                & (F.col("o_orderdate") < F.lit("1997-04-01"))
            ).select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_custkey")
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )
    return (
        per_cust.join(
            F.broadcast(cust.select("c_custkey", "c_name", "c_acctbal", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation"),
            F.col("c_acctbal").alias("acctbal"),
            "revenue",
        )
        .orderBy(F.desc("revenue"), F.asc("custkey"))
        .limit(k)
    )


def top_return_customers_sql(k: int = 20) -> str:
    return f"""
SELECT c_custkey AS custkey, c_name AS cust_name, n_name AS nation,
       c_acctbal AS acctbal,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
GROUP BY 1, 2, 3, 4
ORDER BY revenue DESC, custkey ASC
LIMIT {k}
"""


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6-shaped forecast-revenue-change: one table, three pushed
    range predicates, one global sum — the pure scan-throughput anchor.
    Nothing but FileScan → codegen'd filter+project → partial/final agg;
    at any scale the plan is a single pass with every predicate in
    ``PushedFilters`` (row-group skipping does the heavy lifting on a
    date-sorted layout — see ``sources/layout.py``)."""
    li = load_table(spark, sf_dir, "lineitem")
    revenue = _dec("l_extendedprice") * _dec("l_discount", 4, 2)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1998-01-01"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(revenue).cast("double").alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


FORECAST_REVENUE_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
             * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
"""


def q_integrity_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the warehouse: orphan counts
    for every foreign-key edge (lineitem→orders, lineitem→part,
    lineitem→supplier, orders→customer, customer→nation,
    supplier→nation, nation→region). The data-quality gate a pipeline
    runs after every load — a nonzero row is a broken ingest.

    Scale shape: each check is a LEFT ANTI join from the fact side to
    the (broadcast where small) key side, counted — no payload columns
    move, duplicates collapse in the anti join's probe, and the 7 checks
    union into one 7-row result. On a healthy warehouse every count is
    0, which also makes the oracle row trivial to eyeball.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    def orphans(name, fact, fk, dim, pk, broadcast_dim=True):
        keys = dim.select(F.col(pk).alias("k"))
        if broadcast_dim:
            keys = F.broadcast(keys)
        return (
            fact.select(F.col(fk).alias("k"))
            .join(keys, "k", "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(name).alias("fk_edge"), "n_orphans")
        )

    checks = [
        orphans("lineitem->orders", li, "l_orderkey", orders, "o_orderkey", False),
        orphans("lineitem->part", li, "l_partkey", part, "p_partkey"),
        orphans("lineitem->supplier", li, "l_suppkey", supp, "s_suppkey"),
        orphans("orders->customer", orders, "o_custkey", cust, "c_custkey"),
        orphans("customer->nation", cust, "c_nationkey", nation, "n_nationkey"),
        orphans("supplier->nation", supp, "s_nationkey", nation, "n_nationkey"),
        orphans("nation->region", nation, "n_regionkey", reg, "r_regionkey"),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out  # one lazy 7-row plan; nothing runs on the driver


INTEGRITY_CHECK_SQL = """
SELECT 'lineitem->orders' AS fk_edge,
       (SELECT COUNT(*) FROM lineitem l ANTI JOIN orders o ON l.l_orderkey = o.o_orderkey) AS n_orphans
UNION ALL SELECT 'lineitem->part',
       (SELECT COUNT(*) FROM lineitem l ANTI JOIN part p ON l.l_partkey = p.p_partkey)
UNION ALL SELECT 'lineitem->supplier',
       (SELECT COUNT(*) FROM lineitem l ANTI JOIN supplier s ON l.l_suppkey = s.s_suppkey)
UNION ALL SELECT 'orders->customer',
       (SELECT COUNT(*) FROM orders o ANTI JOIN customer c ON o.o_custkey = c.c_custkey)
UNION ALL SELECT 'customer->nation',
       (SELECT COUNT(*) FROM customer c ANTI JOIN nation n ON c.c_nationkey = n.n_nationkey)
UNION ALL SELECT 'supplier->nation',
       (SELECT COUNT(*) FROM supplier s ANTI JOIN nation n ON s.s_nationkey = n.n_nationkey)
UNION ALL SELECT 'nation->region',
       (SELECT COUNT(*) FROM nation n ANTI JOIN region r ON n.n_regionkey = r.r_regionkey)
"""


def q_order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4-shaped order-priority check: per priority class, count the
    orders in one quarter that had at least one line item shipped after
    the order date (the fixture has no commit/receipt dates, so "late
    shipment" is the residual predicate — same EXISTS shape as Q4).

    Scale shape: the date range pushes to the orders scan; the EXISTS
    becomes a LEFT SEMI join with a non-equi residual
    (``l_shipdate > o_orderdate``) evaluated on the join probe — semi
    joins never duplicate probe rows, so a 7-line order costs one output
    row and the per-priority aggregate shuffles ≤5 rows. The lineitem
    side carries only (orderkey, shipdate); at 100 TB this is the
    canonical "EXISTS against the fact table" plan with no
    de-duplication step.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        orders.filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01"))
            & (F.col("o_orderdate") < F.lit("1997-04-01"))
        )
        .join(
            li.select("l_orderkey", "l_shipdate"),
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


ORDER_PRIORITY_CHECK_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
"""


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant-account report: per market segment, the
    count and total balance of customers whose balance is above the
    positive-balance average but who placed NO order since 2000-01-01 —
    the "money parked, relationship gone" audit.

    Scale shape: the global average is a 1-ROW aggregate cross-joined
    (broadcast) onto the customer scan — a scalar subquery, never a
    shuffle; the NOT EXISTS is a LEFT ANTI join against the
    date-filtered orders keyed on custkey only (the filter pushes to
    the orders scan, the anti join moves no payload); the final
    aggregate is ≤|segments| rows. No step is proportional to anything
    but one pass over each table.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # "> average" via exact cross-multiplication (bal * n_pos > sum_pos):
    # decimal division would be exact decimal in Spark but DOUBLE in
    # DuckDB, so a balance landing exactly on the average could classify
    # differently — the product form is the same exact arithmetic in both.
    pos = (
        cust.filter(F.col("c_acctbal") > 0)
        .agg(
            F.sum(_dec("c_acctbal")).alias("sum_pos"),
            F.count("*").alias("n_pos"),
        )
    )
    recent = orders.filter(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        F.col("o_custkey")
    )
    return (
        cust.join(F.broadcast(pos))
        .filter(_dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos"))
        .join(recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_dormant"),
            F.sum(_dec("c_acctbal")).cast("double").alias("total_bal"),
        )
    )


DORMANT_CUSTOMERS_SQL = """
WITH pos AS (
    SELECT SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS sum_pos,
           COUNT(*) AS n_pos
    FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment, COUNT(*) AS n_dormant,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(15,2))) AS DOUBLE) AS total_bal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(15,2)) * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
GROUP BY c_mktsegment
"""


def q_small_lot_revenue(spark: SparkSession, sf_dir: str, brand: str = "Brand#1") -> DataFrame:
    """TPC-H Q17-shaped small-lot revenue: total revenue from line items
    of one brand whose quantity is below half that part's average
    order quantity — the correlated-scalar-subquery shape
    (``l_quantity < 0.5 * (SELECT AVG ... WHERE same part)``).

    Scale shape: the correlation de-correlates into a self-aggregation
    of lineitem to (partkey, sum_qty, n) — ≤|parts| rows — joined back
    on partkey. The brand filter prunes the part dim FIRST and
    broadcast-semi-joins both the fact scan and the per-part aggregate,
    so only the brand's ~1/25th of lines shuffle. The half-average
    predicate is exact decimal cross-multiplication
    (``2·qty·n < sum_qty``) — no engine-dependent double division on
    the boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    brand_parts = F.broadcast(
        part.filter(F.col("p_brand") == brand).select("p_partkey")
    )
    li_b = li.join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    per_part = li_b.groupBy("l_partkey").agg(
        F.sum(_dec("l_quantity")).alias("sum_qty"),
        F.count("*").alias("n_lines"),
    )
    return (
        li_b.join(
            per_part.select(
                F.col("l_partkey").alias("pk"), "sum_qty", "n_lines"
            ),
            F.col("l_partkey") == F.col("pk"),
        )
        .filter(
            F.lit(2).cast("decimal(15,2)") * _dec("l_quantity") * F.col("n_lines")
            < F.col("sum_qty")
        )
        .agg(
            F.sum(_dec("l_extendedprice")).cast("double").alias("small_lot_revenue"),
            F.count("*").alias("n_small_lots"),
        )
    )


def small_lot_revenue_sql(brand: str = "Brand#1") -> str:
    return f"""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))) AS DOUBLE) AS small_lot_revenue,
       COUNT(*) AS n_small_lots
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = '{brand}'
  AND CAST(2 AS DECIMAL(15,2)) * CAST(l_quantity AS DECIMAL(15,2))
      * (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
         AND EXISTS (SELECT 1 FROM part p2 WHERE p2.p_partkey = l2.l_partkey AND p2.p_brand = '{brand}'))
      < (SELECT SUM(CAST(l_quantity AS DECIMAL(15,2))) FROM lineitem l3
         WHERE l3.l_partkey = lineitem.l_partkey
         AND EXISTS (SELECT 1 FROM part p3 WHERE p3.p_partkey = l3.l_partkey AND p3.p_brand = '{brand}'))
"""


def q_big_orders(spark: SparkSession, sf_dir: str, min_qty: int = 300, k: int = 25) -> DataFrame:
    """TPC-H Q18-shaped large-volume orders: orders whose total line
    quantity exceeds ``min_qty``, with customer detail — the
    HAVING-then-join-back shape.

    Scale shape: lineitem aggregates to (orderkey, sum_qty) with the
    HAVING applied BEFORE any join — the surviving key set is tiny (a
    long right tail), so the join back to orders is effectively a
    selective semi join and the customer dim broadcasts on last.
    Partial aggregation absorbs the fact scan; nothing downstream is
    proportional to lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(_dec("l_quantity")).alias("sum_qty"))
        .filter(F.col("sum_qty") > F.lit(min_qty).cast("decimal(15,2)"))
    )
    return (
        big.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(cust.select("c_custkey", "c_name")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            F.col("c_custkey").cast("long").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("o_orderkey").cast("long").alias("orderkey"),
            F.col("o_orderdate").alias("orderdate"),
            F.col("o_totalprice").alias("totalprice"),
            F.col("sum_qty").cast("double").alias("sum_qty"),
        )
        .orderBy(F.desc("totalprice"), F.asc("orderkey"))
        .limit(k)
    )


def big_orders_sql(min_qty: int = 300, k: int = 25) -> str:
    return f"""
SELECT c_custkey AS custkey, c_name AS cust_name, o_orderkey AS orderkey,
       o_orderdate AS orderdate, o_totalprice AS totalprice,
       CAST(sum_qty AS DOUBLE) AS sum_qty
FROM (SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(15,2))) AS sum_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(15,2))) > {min_qty}) big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY totalprice DESC, orderkey ASC
LIMIT {k}
"""


def q_brand_supplier_counts(spark: SparkSession, sf_dir: str, k: int = 20) -> DataFrame:
    """TPC-H Q16-shaped supplier diversity: per (brand, type), how many
    DISTINCT suppliers have shipped that combination — excluding
    suppliers in bad standing (negative balance), the NOT-IN shape.
    The fixture has no partsupp table; lineitem is the supplying-fact
    source, which preserves the plan shape exactly.

    Scale shape: the exclusion list is a tiny aggregate broadcast as a
    LEFT ANTI join (NOT IN with non-null keys ≡ anti join); the
    grouped COUNT(DISTINCT supplier) runs as Spark's two-phase
    distinct-expand over (brand, type, suppkey) — partial distinct
    happens map-side, so the shuffle carries unique triples, not fact
    rows. Part is the only dimension and broadcasts onto the fact
    scan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    bad = F.broadcast(
        supp.filter(F.col("s_acctbal") < 0).select(F.col("s_suppkey").alias("bad_key"))
    )
    return (
        li.select("l_partkey", "l_suppkey")
        .join(bad, F.col("l_suppkey") == F.col("bad_key"), "left_anti")
        .join(
            F.broadcast(part.select("p_partkey", "p_brand", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"), F.asc("p_type"))
        .limit(k)
    )


def brand_supplier_counts_sql(k: int = 20) -> str:
    return f"""
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC
LIMIT {k}
"""


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Region → nation revenue hierarchy via the relational ROLLUP: one
    row per nation, one subtotal per region, one grand total — the
    drill-down report CUBE's full cross-product would overserve
    (events_cube covers that family; ROLLUP materializes only the
    hierarchy's prefixes).

    Scale shape: one pass — Spark expands the grouping sets INSIDE a
    single two-phase hash aggregate (partials per grouping set map-side),
    so the fact scan is never repeated per level. Dims broadcast onto the
    orders scan largest-last; NULL subtotal cells are labeled '(all)' so
    the hash is engine-stable.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        orders.select("o_custkey", "o_totalprice")
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        joined.rollup("r_name", "n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
        )
        .select(
            F.coalesce("r_name", F.lit("(all)")).alias("region"),
            F.coalesce("n_name", F.lit("(all)")).alias("nation"),
            "n_orders",
            "revenue",
        )
    )


REVENUE_ROLLUP_SQL = """
SELECT COALESCE(r_name, '(all)') AS region,
       COALESCE(n_name, '(all)') AS nation,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS DOUBLE) AS revenue
FROM orders
JOIN customer ON c_custkey = o_custkey
JOIN nation ON n_nationkey = c_nationkey
JOIN region ON r_regionkey = n_regionkey
GROUP BY ROLLUP (r_name, n_name)
"""


def q_balance_ntiles(spark: SparkSession, sf_dir: str, n: int = 4) -> DataFrame:
    """Per-market-segment balance quartiles: every customer is assigned an
    ``ntile(n)`` bucket within their segment (highest balances in tile 1),
    then each (segment, tile) reports its population and balance range —
    the equal-population banding behind credit tiers / A-B cohorts.

    Scale shape: ntile needs each segment totally ordered — the window
    shuffles once on the segment key and sorts within partitions (5
    segments here; for a high-cardinality or skewed partition key, band
    by percent_rank thresholds instead, which composes from a
    distributed sort). The tie order is pinned (balance DESC, custkey
    ASC) so tile boundaries are engine-deterministic; the final rollup
    aggregates the already-partitioned rows.
    """
    from pyspark.sql.window import Window

    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("bal"), F.asc("c_custkey")
    )
    return (
        cust.select(
            "c_mktsegment",
            "c_custkey",
            _dec("c_acctbal").alias("bal"),
        )
        .withColumn("tile", F.ntile(n).over(w))
        .groupBy("c_mktsegment", "tile")
        .agg(
            F.count("*").alias("n_customers"),
            F.min("bal").cast("double").alias("lo_bal"),
            F.max("bal").cast("double").alias("hi_bal"),
        )
    )


def balance_ntiles_sql(n: int = 4) -> str:
    return f"""
WITH t AS (
    SELECT c_mktsegment,
           CAST(c_acctbal AS DECIMAL(15,2)) AS bal,
           NTILE({n}) OVER (PARTITION BY c_mktsegment
                            ORDER BY CAST(c_acctbal AS DECIMAL(15,2)) DESC,
                                     c_custkey ASC) AS tile
    FROM customer
)
SELECT c_mktsegment, tile, COUNT(*) AS n_customers,
       CAST(MIN(bal) AS DOUBLE) AS lo_bal,
       CAST(MAX(bal) AS DOUBLE) AS hi_bal
FROM t GROUP BY c_mktsegment, tile
"""


def q_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13-shaped activity distribution: how many customers placed
    exactly k (non-urgent) orders, INCLUDING the zero-order customers —
    the engagement histogram (same shape profiles docs-per-source in a
    curation pipeline).

    Scale shape: the classic Q13 lesson is that the order-side predicate
    must act as a JOIN-side filter, not a WHERE (a WHERE would silently
    drop the zero-order customers a LEFT join exists to keep) — here the
    filter applies to the orders scan BEFORE the left join, which is
    plan-equivalent and pushdown-friendly. Two aggregations, both
    map-side combinable: per-customer count (shuffle on custkey), then
    count-of-counts over ≤|distinct k| rows. Nothing re-scans the fact
    table.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    filtered = orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        cust.select("c_custkey")
        .join(filtered, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORDER_COUNT_DISTRIBUTION_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
    SELECT c_custkey, COUNT(o_orderkey) AS c_count
    FROM customer LEFT JOIN orders
      ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
    GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


LATE_DAYS = 100


def q_lone_late_supplier(
    spark: SparkSession, sf_dir: str, late_days: int = LATE_DAYS, k: int = 25
) -> DataFrame:
    """TPC-H Q21-shaped reliability audit: suppliers who were the ONLY
    late shipper on a multi-supplier order ("late" = shipped more than
    ``late_days`` after the order date — the fixture has no
    commit/receipt dates), ranked by how often. The nastiest subquery
    shape in the suite: a correlated EXISTS (another supplier exists on
    the order) AND a correlated NOT EXISTS (no OTHER supplier was late).

    Scale shape: both correlated subqueries decorrelate into ONE
    per-order aggregate — n distinct suppliers, n distinct LATE
    suppliers, and (via min=max on the late side) the lone late supplier
    id — so the fact table shuffles once on orderkey instead of probing
    itself twice per (line, order). Orders contributes only
    (orderkey, orderdate); a qualifying order is exactly
    ``n_supp ≥ 2 AND n_late_supp = 1``, and the per-supplier tally runs
    over ≤|qualifying orders| rows.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lines = li.select("l_orderkey", "l_suppkey", "l_shipdate").join(
        orders.select("o_orderkey", "o_orderdate"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        f"INTERVAL {late_days} DAYS"
    )
    late_supp = F.when(is_late, F.col("l_suppkey"))
    per_order = lines.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(late_supp).alias("n_late_supp"),
        F.min(late_supp).alias("lone_late"),
    )
    return (
        per_order.filter((F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1))
        .groupBy(F.col("lone_late").alias("suppkey"))
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("suppkey"))
        .limit(k)
    )


def lone_late_supplier_sql(late_days: int = LATE_DAYS, k: int = 25) -> str:
    return f"""
SELECT l1.l_suppkey AS suppkey, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL {late_days} DAY
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL {late_days} DAY)
GROUP BY l1.l_suppkey
ORDER BY numwait DESC, suppkey ASC
LIMIT {k}
"""


def q_cumulative_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running lifetime value: every order annotated with its customer's
    cumulative revenue to date — the classic running-total window (LTV
    curves, pacing alerts, spend caps).

    Scale shape: ONE shuffle on the customer key; the running sum is a
    rows-frame scan within each customer's date-ordered slice (no second
    pass, no self-join — the pre-window-function formulation was a
    triangular self-join, O(orders²) per customer). Tie order pinned
    (orderdate, orderkey); the accumulation runs in exact decimal and
    casts to double only at the output, so partial order can't perturb
    the hash.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        F.col("o_custkey").cast("long").alias("custkey"),
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        F.col("o_totalprice").alias("totalprice"),
        F.sum(_dec("o_totalprice")).over(w).cast("double").alias("cum_revenue"),
    )


CUMULATIVE_REVENUE_SQL = """
SELECT o_custkey AS custkey,
       o_orderkey AS orderkey,
       strftime(o_orderdate::TIMESTAMP, '%Y-%m-%d') AS orderdate,
       o_totalprice AS totalprice,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(15,2)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_revenue
FROM orders
"""


def q_cheapest_supplier_per_part(
    spark: SparkSession, sf_dir: str, brand: str = "Brand#2"
) -> DataFrame:
    """TPC-H Q2-shaped sourcing query: for every part of one brand, the
    supplier(s) that shipped it at the MINIMUM price — the
    correlated-min + ARGMIN-JOIN-BACK shape (Q17 stops at the correlated
    aggregate; Q2 must rejoin to recover the rows that ACHIEVE it).

    Scale shape: the brand dim broadcast-SEMI-prunes the fact scan once;
    the per-part minimum aggregates to ≤|brand parts| rows and broadcasts
    back onto the SAME pruned fact slice with the equality as a join
    residual (`price = min_price`) — no window over the fact table, no
    second global shuffle. Ties keep every achieving supplier (set
    semantics — deterministic without an arbitrary pick); the supplier
    dim broadcasts on last.
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    brand_parts = F.broadcast(
        part.filter(F.col("p_brand") == brand).select("p_partkey", "p_name")
    )
    li_b = li.select("l_partkey", "l_suppkey", "l_extendedprice").join(
        brand_parts, F.col("l_partkey") == F.col("p_partkey"), "left_semi"
    )
    min_price = li_b.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min(_dec("l_extendedprice")).alias("min_price")
    )
    achieving = (
        li_b.join(
            F.broadcast(min_price),
            (F.col("l_partkey") == F.col("pk"))
            & (_dec("l_extendedprice") == F.col("min_price")),
        )
        .select("l_partkey", "l_suppkey", "min_price")
        .distinct()
    )
    return (
        achieving.join(
            brand_parts, F.col("l_partkey") == F.col("p_partkey")
        )
        .join(
            F.broadcast(supp.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            F.col("l_partkey").cast("long").alias("partkey"),
            F.col("p_name").alias("part_name"),
            F.col("l_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("supp_name"),
            F.col("min_price").cast("double").alias("min_price"),
        )
    )


def cheapest_supplier_per_part_sql(brand: str = "Brand#2") -> str:
    return f"""
SELECT l_partkey AS partkey, p_name AS part_name,
       l_suppkey AS suppkey, s_name AS supp_name,
       CAST(CAST(l_extendedprice AS DECIMAL(15,2)) AS DOUBLE) AS min_price
FROM (SELECT DISTINCT l_partkey, l_suppkey, l_extendedprice
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_brand = '{brand}'
        AND CAST(l_extendedprice AS DECIMAL(15,2)) =
            (SELECT MIN(CAST(l2.l_extendedprice AS DECIMAL(15,2)))
             FROM lineitem l2
             WHERE l2.l_partkey = lineitem.l_partkey)) a
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
"""


BASKET_MIN_SUPPORT = 3  # pairs must co-occur in at least this many orders


def q_basket_affinity(
    spark: SparkSession, sf_dir: str, min_support: int = BASKET_MIN_SUPPORT, k: int = 25
) -> DataFrame:
    """Market-basket association rules at the pair level: for parts
    co-purchased in the same order, support (co-orders), confidence
    P(b|a), and lift P(a,b)/(P(a)P(b)) — the first Apriori level, which
    in practice carries most of the recommendation/placement value.

    Scale shape: baskets self-join on the ORDER key, so work is
    Σ_order C(lines, 2) — bounded by basket size (≈ 4–7 lines in this
    schema), never |parts|²; the min-support filter prunes before the
    per-part marginals broadcast on. Pair and marginal counts are plain
    partial-agged groupBys; confidence/lift divide exact integers (and
    round to 6) so both engines produce identical doubles. Emitted
    DIRECTED (a→b and b→a) because confidence is asymmetric; ranking
    ties break on the pair.
    """
    li = load_table(spark, sf_dir, "lineitem")
    # four consumers (two join sides, marginals, order count) — materialize
    # the distinct baskets once instead of re-scanning the fact table
    baskets = (
        li.select("l_orderkey", "l_partkey").distinct().transform(materialize, eager=True)
    )
    n_orders = baskets.select("l_orderkey").distinct().count()
    a = baskets.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("a"))
    b = baskets.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("b"))
    pair_counts = (
        a.join(b, "o")
        .filter(F.col("a") != F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("support"))
        .filter(F.col("support") >= min_support)
    )
    marginals = baskets.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count("*").alias("n_orders_with")
    )
    return (
        pair_counts.join(
            F.broadcast(marginals.select(F.col("pk").alias("a"), F.col("n_orders_with").alias("na"))), "a"
        )
        .join(
            F.broadcast(marginals.select(F.col("pk").alias("b"), F.col("n_orders_with").alias("nb"))), "b"
        )
        .select(
            F.col("a").cast("long").alias("part_a"),
            F.col("b").cast("long").alias("part_b"),
            "support",
            F.round(F.col("support").cast("double") / F.col("na"), 6).alias(
                "confidence"
            ),
            F.round(
                F.col("support").cast("double") * F.lit(float(n_orders))
                / (F.col("na").cast("double") * F.col("nb")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.asc("part_a"), F.asc("part_b"))
        .limit(k)
    )


def basket_affinity_sql(
    min_support: int = BASKET_MIN_SUPPORT, k: int = 25
) -> str:
    return f"""
WITH baskets AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM baskets),
pairs AS (
    SELECT x.l_partkey AS part_a, y.l_partkey AS part_b, COUNT(*) AS support
    FROM baskets x JOIN baskets y
      ON x.l_orderkey = y.l_orderkey AND x.l_partkey <> y.l_partkey
    GROUP BY 1, 2
    HAVING COUNT(*) >= {min_support}
),
marg AS (SELECT l_partkey AS pk, COUNT(*) AS n_with FROM baskets GROUP BY 1)
SELECT part_a, part_b, support,
       ROUND(CAST(support AS DOUBLE) / ma.n_with, 6) AS confidence,
       ROUND(CAST(support AS DOUBLE) * (SELECT n_orders FROM n)
             / (CAST(ma.n_with AS DOUBLE) * mb.n_with), 6) AS lift
FROM pairs
JOIN marg ma ON ma.pk = part_a
JOIN marg mb ON mb.pk = part_b
ORDER BY lift DESC, part_a ASC, part_b ASC
LIMIT {k}
"""


def q_pareto_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration (ABC/Pareto report): customers ranked by
    lifetime revenue, bucketed into deciles of the CUSTOMER COUNT, with
    each decile's share of total revenue and the running share — answers
    "do 20% of customers carry 80% of revenue?" in one table.

    Scale shape: revenue aggregates to ≤|customers| rows first, is
    range-partitioned by the (rev DESC, custkey) sort key and
    localCheckpoint-ed (ONE orders scan for every consumer below). The
    decile is exact NTILE(10) computed DISTRIBUTED: global rank = local
    row_number per range + that range's broadcast row offset (the
    ``sequence_pack`` prefix-sum discipline — no stage funnels the
    aggregate through one task), then NTILE's closed form
    (first n%k buckets get one extra row) applied row-locally. The only
    unpartitioned windows run over the n_partitions-row per-range stats
    frame. Exact decimal until the final share division; the rollup is
    10 rows.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(_dec("o_totalprice")).alias("rev")
    )
    n_parts = spark.sparkContext.defaultParallelism
    parts = (
        per_cust.repartitionByRange(n_parts, F.desc("rev"), F.asc("o_custkey"))
        .withColumn("pid", F.spark_partition_id())
        .transform(materialize, eager=True)
    )
    # per-range stats: n_parts rows — the single-task windows below are
    # over THIS frame, never the per-customer aggregate
    w_prior = Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = (
        parts.groupBy("pid")
        .agg(F.count("*").alias("cnt"), F.sum("rev").alias("part_rev"))
        .select(
            "pid",
            F.coalesce(F.sum("cnt").over(w_prior), F.lit(0)).alias("off"),
            F.sum("cnt").over(w_all).alias("n_total"),
            F.sum("part_rev").over(w_all).alias("total_rev"),
        )
    )
    w_local = Window.partitionBy("pid").orderBy(F.desc("rev"), F.asc("o_custkey"))
    r = (F.row_number().over(w_local) + F.col("off")).alias("r")
    # exact NTILE(k): s = n div k rows per bucket, first m = n mod k
    # buckets get s+1 (s guarded for the n < k corner)
    k = F.lit(10)
    s = (F.col("n_total") / k).cast("bigint")
    m = F.col("n_total") % k
    decile = F.when(
        F.col("r") <= m * (s + 1),
        ((F.col("r") - 1) / (s + 1)).cast("bigint") + 1,
    ).otherwise(
        m
        + ((F.col("r") - 1 - m * (s + 1)) / F.greatest(s, F.lit(1))).cast("bigint")
        + 1
    )
    deciled = (
        parts.join(F.broadcast(offsets), "pid")
        .select("rev", "total_rev", "n_total", r)
        .withColumn("decile", decile.cast("int"))
    )
    by_decile = deciled.groupBy("decile").agg(
        F.count("*").alias("n_customers"),
        F.round(
            F.sum("rev").cast("double") / F.first("total_rev").cast("double"), 6
        ).alias("rev_share"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return by_decile.withColumn(
        "cum_share", F.round(F.sum("rev_share").over(w_cum), 6)
    )


PARETO_REVENUE_SQL = """
WITH per_cust AS (
    SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(15,2))) AS rev
    FROM orders GROUP BY o_custkey
),
deciled AS (
    SELECT o_custkey, rev,
           NTILE(10) OVER (ORDER BY rev DESC, o_custkey ASC) AS decile
    FROM per_cust
),
by_decile AS (
    SELECT decile, COUNT(*) AS n_customers,
           ROUND(CAST(SUM(rev) AS DOUBLE)
                 / (SELECT CAST(SUM(rev) AS DOUBLE) FROM per_cust), 6) AS rev_share
    FROM deciled GROUP BY decile
)
SELECT decile, n_customers, rev_share,
       ROUND(SUM(rev_share) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING), 6)
           AS cum_share
FROM by_decile
"""

def q_top_supplier(
    spark: SparkSession, sf_dir: str, start: str = "1996-01-01", end: str = "1996-04-01"
) -> DataFrame:
    """TPC-H Q15-shaped top supplier: the supplier(s) whose shipped
    revenue over one quarter equals the maximum across all suppliers —
    the revenue-view + argmax-join-back shape (ties all surface, no
    arbitrary winner).

    Scale shape: the quarter filter pushes to the scan; revenue
    aggregates to ≤|suppliers| rows in one shuffle; the argmax is an
    unpartitioned window max over that AGGREGATE (exact DECIMAL, so the
    tie-equality is bit-stable) — a single-task pass over ≤|suppliers|
    rows, the price of touching the fact table exactly once (a scalar
    `rev.agg(max)` twin re-plans the aggregate and scans lineitem
    TWICE — measured scans=3 vs 2 in the executed audit); supplier
    names broadcast.
    """
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    rev = (
        li.filter((F.col("l_shipdate") >= F.lit(start)) & (F.col("l_shipdate") < F.lit(end)))
        .groupBy("l_suppkey")
        .agg(F.sum(revenue).alias("rev"))
    )
    return (
        rev.withColumn("max_rev", F.max("rev").over(Window.partitionBy()))
        .filter(F.col("rev") == F.col("max_rev"))
        .join(F.broadcast(sup.select("s_suppkey", "s_name")), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.col("s_suppkey").cast("long").alias("suppkey"),
            F.col("s_name").alias("supplier_name"),
            F.col("rev").cast("double").alias("total_revenue"),
        )
        .orderBy("suppkey")
    )


def top_supplier_sql(start: str = "1996-01-01", end: str = "1996-04-01") -> str:
    return f"""
WITH rev AS (
    SELECT l_suppkey,
           SUM(CAST(l_extendedprice AS DECIMAL(15,2))
               * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS rev
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '{start} 00:00:00'
      AND l_shipdate <  TIMESTAMP '{end} 00:00:00'
    GROUP BY l_suppkey
)
SELECT s_suppkey AS suppkey, s_name AS supplier_name,
       CAST(rev AS DOUBLE) AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev = (SELECT MAX(rev) FROM rev)
ORDER BY suppkey
"""

def q_ship_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency distribution per order month: line count,
    mean, exact p50/p90/p99, and worst-case days between the order date
    and each line's ship date — the fulfilment-SLA report.

    Scale shape: this is the engine's canonical FACT-TO-FACT join —
    orders⋈lineitem on orderkey, where NEITHER side broadcasts at real
    scale. Only the two date columns (plus the key) survive column
    pruning into the join, and the join key is the natural bucketing
    column for both tables (co-located sort-merge join with zero
    shuffle when both are bucketed on orderkey — the layout note in
    sources/). The per-month aggregate is ≤ |months| rows after one
    partial-agged shuffle. Exact percentile buffers per month
    (≤ |months| low-cardinality groups — the `events_quantiles`
    discipline; the unbounded-cardinality form is sketch_profile's GK).
    Rounded to 6: interpolation arithmetic is float-order sensitive.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate"
    )
    lat = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .select(
            F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
            F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).alias("lat"),
        )
    )
    qs = F.expr("percentile(lat, array(0.5, 0.9, 0.99))")
    return (
        lat.groupBy("order_month")
        .agg(
            F.count("*").alias("n_lines"),
            F.round(F.avg("lat"), 6).alias("avg_days"),
            qs.alias("qs"),
            F.max("lat").alias("max_days"),
        )
        .select(
            "order_month",
            "n_lines",
            "avg_days",
            F.round(F.element_at("qs", 1), 6).alias("p50_days"),
            F.round(F.element_at("qs", 2), 6).alias("p90_days"),
            F.round(F.element_at("qs", 3), 6).alias("p99_days"),
            "max_days",
        )
        .orderBy("order_month")
    )


SHIP_LATENCY_SQL = """
SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
       COUNT(*) AS n_lines,
       ROUND(AVG(date_diff('day', o_orderdate, l_shipdate)), 6) AS avg_days,
       ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.5), 6) AS p50_days,
       ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.9), 6) AS p90_days,
       ROUND(quantile_cont(date_diff('day', o_orderdate, l_shipdate), 0.99), 6) AS p99_days,
       MAX(date_diff('day', o_orderdate, l_shipdate)) AS max_days
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY order_month
ORDER BY order_month
"""


def q_volume_shipping(
    spark: SparkSession,
    sf_dir: str,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
) -> DataFrame:
    """TPC-H Q7-shaped bilateral trade volume: revenue shipped between two
    named nations (supplier in one, customer in the other, BOTH
    directions) per (supplier nation, customer nation, ship year) over a
    two-year window.

    Scale shape: the two-nation filter prunes nation FIRST and broadcasts
    into supplier and customer, which broadcast into the facts — the only
    shuffle is lineitem ⋈ orders on orderkey; the cross-pair condition
    (``s_nation <> c_nation``) is a residual on the broadcast probe.
    Output ≤ 2 pair-directions × years rows. Exact decimal until the
    final double cast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    pair = F.broadcast(
        nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
            "n_nationkey", "n_name"
        )
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01"))
            & (F.col("l_shipdate") < F.lit("1999-01-01"))
        )
        .join(
            F.broadcast(
                supp.join(pair, F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", F.col("n_name").alias("supp_nation"))
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(
                cust.join(pair, F.col("c_nationkey") == F.col("n_nationkey"))
                .select("c_custkey", F.col("n_name").alias("cust_nation"))
            ),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(revenue).cast("double").alias("revenue"))
    )


def volume_shipping_sql(nation_a: str = "NATION_1", nation_b: str = "NATION_2") -> str:
    return f"""
SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS revenue
FROM lineitem
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE sn.n_name IN ('{nation_a}', '{nation_b}')
  AND cn.n_name IN ('{nation_a}', '{nation_b}')
  AND sn.n_name <> cn.n_name
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


def q_market_share(
    spark: SparkSession,
    sf_dir: str,
    region: str = "ASIA",
    target_nation: str = "NATION_8",
    ptype: str = "STANDARD",
) -> DataFrame:
    """TPC-H Q8-shaped market share: within one region's customers buying
    one part type, the share of revenue supplied by one target nation,
    per order year — the conditional-aggregate-ratio shape
    (SUM(CASE WHEN supplier is target) / SUM(all)).

    Scale shape: part type + region prune their dimensions before
    touching facts; one orderkey shuffle joins the two facts; supplier
    nationality rides in as a broadcast flag column — the ratio is two
    fused aggregates over one pass, never two scans. Sums stay exact
    decimal; the share divides as double (identical IEEE inputs in both
    engines), rounded 6.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part")
    region_nations = F.broadcast(
        nation.join(
            F.broadcast(reg.filter(F.col("r_name") == region)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select(F.col("n_nationkey").alias("rn_key"))
    )
    supp_flag = F.broadcast(
        supp.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        ).select(
            "s_suppkey",
            (F.col("n_name") == target_nation).alias("is_target"),
        )
    )
    revenue = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    )
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == ptype).select("p_partkey")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(supp_flag, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            orders.filter(
                (F.col("o_orderdate") >= F.lit("1997-01-01"))
                & (F.col("o_orderdate") < F.lit("1999-01-01"))
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(region_nations, F.col("c_nationkey") == F.col("rn_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("is_target"), revenue).otherwise(F.lit(0).cast("decimal(15,2)"))).alias("_t"),
            F.sum(revenue).alias("_all"),
        )
        .select(
            "o_year",
            F.round(F.col("_t").cast("double") / F.col("_all").cast("double"), 6).alias(
                "mkt_share"
            ),
            F.col("_all").cast("double").alias("total_revenue"),
        )
    )


def market_share_sql(
    region: str = "ASIA", target_nation: str = "NATION_8", ptype: str = "STANDARD"
) -> str:
    return f"""
SELECT EXTRACT(year FROM o_orderdate)::BIGINT AS o_year,
       ROUND(CAST(SUM(CASE WHEN sn.n_name = '{target_nation}'
                      THEN CAST(l_extendedprice AS DECIMAL(15,2))
                           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                      ELSE CAST(0 AS DECIMAL(15,2)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                        * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE),
             6) AS mkt_share,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
           AS total_revenue
FROM lineitem
JOIN part p ON l_partkey = p.p_partkey
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN orders o ON l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN region r ON cn.n_regionkey = r.r_regionkey
WHERE p.p_type = '{ptype}'
  AND r.r_name = '{region}'
  AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o.o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1
"""


def q_product_profit(
    spark: SparkSession, sf_dir: str, name_word: str = "widget"
) -> DataFrame:
    """TPC-H Q9-shaped product profit: for parts whose name contains one
    word, profit = revenue − retail cost of the shipped quantity, per
    (supplier nation, ship year). The fixture has no partsupp table, so
    unit cost is ``p_retailprice`` — the join graph and aggregation shape
    are Q9's (documented substitution).

    Scale shape: the LIKE filter prunes part before any fact contact;
    part and the supplier→nation cascade broadcast into ONE lineitem
    pass — no orders join is needed (ship year comes from l_shipdate),
    so the plan has zero fact-fact shuffles; the aggregate is
    ≤ nations × years rows. Exact decimal throughout.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    profit = _dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - _dec("l_discount", 4, 2)
    ) - _dec("p_retailprice", 12, 2) * _dec("l_quantity", 12, 2)
    return (
        li.join(
            F.broadcast(
                part.filter(F.col("p_name").contains(name_word)).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(
                supp.join(
                    F.broadcast(nation.select("n_nationkey", "n_name")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                ).select("s_suppkey", F.col("n_name").alias("nation"))
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("nation", F.year("l_shipdate").alias("l_year"))
        .agg(F.sum(profit).cast("double").alias("profit"))
    )


def product_profit_sql(name_word: str = "widget") -> str:
    return f"""
SELECT n.n_name AS nation,
       EXTRACT(year FROM l_shipdate)::BIGINT AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(15,2))
                * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                - CAST(p_retailprice AS DECIMAL(12,2))
                  * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS profit
FROM lineitem
JOIN part p ON l_partkey = p.p_partkey
JOIN supplier s ON l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%{name_word}%'
GROUP BY 1, 2
"""


def q_user_erasure(spark: SparkSession, sf_dir: str, user_id: int = 42) -> DataFrame:
    """Right-to-be-forgotten audit for one subject: every table holding
    rows keyed (directly or transitively) to the user, with the row count
    an erasure job would delete — customer (the subject row), orders
    (direct custkey), lineitem (via the user's orders), events (direct
    user_id). The inventory a GDPR/CCPA deletion workflow materializes
    BEFORE mutating anything, and re-runs after to prove zeros.

    Scale shape: the subject key is a literal, so customer/orders/events
    prune at the scan (PushedFilters); the only non-pushable step is
    lineitem-via-orders, which semi-joins the user's ≤|orders| broadcast
    order keys — no shuffle anywhere, output is exactly 4 rows.
    """
    orders = load_table(spark, sf_dir, "orders")
    user_orders = orders.filter(F.col("o_custkey") == user_id).select("o_orderkey")

    def cnt(name: str, df) -> DataFrame:
        return df.groupBy().agg(F.count("*").alias("n_rows")).select(
            F.lit(name).alias("table_name"), "n_rows"
        )

    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    ev = load_table(spark, sf_dir, "events")
    return (
        cnt("customer", cust.filter(F.col("c_custkey") == user_id))
        .unionByName(cnt("orders", user_orders))
        .unionByName(
            cnt(
                "lineitem",
                li.join(
                    F.broadcast(user_orders),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                    "left_semi",
                ),
            )
        )
        .unionByName(cnt("events", ev.filter(F.col("user_id") == user_id)))
    )


def user_erasure_sql(user_id: int = 42) -> str:
    return f"""
SELECT 'customer' AS table_name, COUNT(*) AS n_rows
FROM customer WHERE c_custkey = {user_id}
UNION ALL
SELECT 'orders', COUNT(*) FROM orders WHERE o_custkey = {user_id}
UNION ALL
SELECT 'lineitem', COUNT(*) FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_custkey = {user_id})
UNION ALL
SELECT 'events', COUNT(*) FROM events WHERE user_id = {user_id}
"""
