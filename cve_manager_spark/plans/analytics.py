"""Round-5 tranche: decision-support SQL faces + warehouse analytics.

Two families:

1. **TPC-H-shaped decision-support queries** adapted to the testdata
   star schema (no partsupp table, no l_commitdate/l_receiptdate/
   l_shipmode columns — predicates are re-targeted to the columns that
   exist, the join/aggregation SHAPES are preserved).  These exercise the
   multi-join optimizer surface the registry so far only touched with
   single joins: 3-to-6-way star joins where Catalyst must broadcast the
   dims (region/nation/customer at their natural sizes), push the
   selective date/segment filters below the joins, and partial-aggregate
   above them.  Two of them (q3, q5) go through ``spark.sql`` with the
   IDENTICAL text DuckDB runs, so dialect portability is hash-checked;
   the rest are DataFrame builders whose plans we can shape-assert.

2. **Warehouse / pipeline analytics**: RFM segmentation, backlog aging,
   balance deciles, trade-balance reconciliation, YoY windows, data-
   freshness SLOs, full-outer reconciliation — the reporting layer every
   warehouse runs on top of the relational core.

Everything follows the determinism contract in plans/spec.py: exact
DECIMAL money sums emitted as one final double cast, integer day/ppm
arithmetic for derived ratios, total orders (unique tie-break) before
every LIMIT.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.functions.helpers import dec, dec_sum, fan_out, values_relation
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.plans.corpus import _GINI_DOC
from cve_manager_spark.sources.testdata import load_table, register_views

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# exact order-independent revenue: SUM(extendedprice * (1 - discount))
# carried as DECIMAL end-to-end, one final double cast (plans/spec.py)
def _revenue() -> F.Column:
    return (
        F.sum(
            dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
        )
        .cast("double")
    )


_REVENUE_SQL = (
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
    " * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)"
)


# ---------------------------------------------------------------------------
# TPC-H-shaped decision support
# ---------------------------------------------------------------------------

_SQL_Q3 = f"""
SELECT o_orderkey, o_orderdate, o_orderpriority,
       {_REVENUE_SQL} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1999-06-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1999-06-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


@_register(
    "sql_tpch_q3",
    _SQL_Q3,
    doc="TPC-H Q3 (shipping priority): top-10 unshipped-revenue orders for "
    "one market segment — the canonical 3-way star join + top-k. One SQL "
    "text is both the Spark query and the DuckDB oracle. Catalyst "
    "broadcasts the filtered customer side (1/5 of a dim already ~100× "
    "smaller than lineitem), pushes both date filters into the scans, "
    "and TakeOrderedAndProject replaces a global sort for the LIMIT. "
    "Revenue is exact decimal; ties broken by unique o_orderkey so the "
    "LIMIT is a total order.",
)
def sql_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_SQL_Q3)


_Q4_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
"""


@_register(
    "sql_tpch_q4",
    _Q4_ORACLE,
    doc="TPC-H Q4 (order priority checking), adapted: orders in one quarter "
    "having at least one line shipped >30 days after the order date "
    "(the schema has no commit/receipt dates; lateness vs order date "
    "keeps the EXISTS shape). DataFrame side is an explicit LEFT SEMI "
    "join with a mixed equi + inequality condition — the semi-join "
    "dedups order keys on the build side instead of a DISTINCT after an "
    "inner join, so each order is counted once no matter how many lines "
    "are late. Oracle spells the same thing as correlated EXISTS.",
)
def sql_tpch_q4(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    li = load_table(spark, sf, "lineitem")
    late = orders.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


_SQL_Q5 = f"""
SELECT n_name, {_REVENUE_SQL} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
"""


@_register(
    "sql_tpch_q5",
    _SQL_Q5,
    doc="TPC-H Q5 (local supplier volume): revenue where customer and "
    "supplier share a nation, rolled up to nations of one region — the "
    "6-way join with a non-key equality (c_nationkey = s_nationkey) "
    "that forces join-order intelligence. Single SQL text for both "
    "engines. region/nation/supplier broadcast at their natural sizes; "
    "the region filter prunes 4/5 of nations BEFORE the fact join "
    "because Catalyst pushes it through the broadcast chain.",
)
def sql_tpch_q5(spark: SparkSession, sf: str) -> DataFrame:
    register_views(spark, sf)
    return spark.sql(_SQL_Q5)


_Q6_ORACLE = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


@_register(
    "sql_tpch_q6",
    _Q6_ORACLE,
    doc="TPC-H Q6 (forecasting revenue change): pure scan-filter-aggregate, "
    "zero joins — the query that measures whether predicate pushdown and "
    "vectorized scanning work. All three filters reach the parquet "
    "reader as PushedFilters; the aggregate is a single partial+final "
    "over one running decimal pair. At 100 TB this is the shape where "
    "column pruning matters most: 4 of 11 lineitem columns read.",
)
def sql_tpch_q6(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec(F.col("l_extendedprice")) * dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q10_ORACLE = f"""
SELECT c_custkey, c_name, c_mktsegment, n_name,
       {_REVENUE_SQL} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1998-10-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_mktsegment, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@_register(
    "sql_tpch_q10",
    _Q10_ORACLE,
    doc="TPC-H Q10 (returned item reporting): top-20 customers by revenue "
    "lost to returns in one quarter. Star join with TWO dims (customer "
    "enriched by broadcast nation), group on the customer grain, then "
    "TakeOrderedAndProject for the limit — the shape where grouping by "
    "4 columns is really grouping by the key (c_custkey) with carried "
    "attributes; the planner needs no distinct-on because the extra "
    "columns are functionally dependent and hash with the key.",
)
def sql_tpch_q10(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1998-10-01")
        & (F.col("o_orderdate") < "1999-01-01")
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf, "nation")
    j = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    g = j.groupBy("c_custkey", "c_name", "c_mktsegment", "n_name").agg(
        _revenue().alias("revenue")
    )
    return g.orderBy(F.col("revenue").desc(), F.col("c_custkey")).limit(20)


_Q14_ORACLE = """
SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))
             ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS promo_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
              * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS total_revenue,
       CAST(FLOOR(
         CAST(SUM(CASE WHEN p_type = 'PROMO'
              THEN CAST(l_extendedprice AS DECIMAL(18,4))
                   * (1 - CAST(l_discount AS DECIMAL(18,4)))
              ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         * 1000000) AS BIGINT) AS promo_ppm
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
"""


@_register(
    "sql_tpch_q14",
    _Q14_ORACLE,
    doc="TPC-H Q14 (promotion effect): share of one month's revenue from "
    "PROMO-type parts. Conditional aggregation over a fact⋈dim join — "
    "part is the large dim here (no date filter applies to it), so this "
    "is the shuffled-hash/broadcast borderline case AQE decides at "
    "runtime. Both sums are exact decimal; the ppm share divides the "
    "two deterministic doubles once and floors to integer, so the "
    "derived ratio is engine-identical too.",
)
def sql_tpch_q14(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-09-01") & (F.col("l_shipdate") < "1997-10-01")
    )
    part = load_table(spark, sf, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    disc = dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    g = j.agg(
        F.sum(promo).cast("double").alias("promo_revenue"),
        F.sum(disc).cast("double").alias("total_revenue"),
    )
    return g.select(
        "promo_revenue",
        "total_revenue",
        F.floor(F.col("promo_revenue") / F.col("total_revenue") * 1000000)
        .cast("long")
        .alias("promo_ppm"),
    )


_Q18_ORACLE = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate,
       CAST(o_totalprice AS DOUBLE) AS o_totalprice, sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
"""


@_register(
    "sql_tpch_q18",
    _Q18_ORACLE,
    doc="TPC-H Q18 (large volume customer): orders whose total line "
    "quantity exceeds a threshold, enriched with their customer. The "
    "aggregate-then-join pattern: the HAVING filter runs on the grouped "
    "relation (15k orders → a handful) BEFORE touching customer, so the "
    "join probes with the tiny filtered side broadcast — the classic "
    "fix for the naive join-then-aggregate plan that shuffles the whole "
    "fact twice. Quantities are integral doubles; cast to BIGINT makes "
    "the sum and threshold exact.",
)
def sql_tpch_q18(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
        # threshold picked for TPC-H Q18's semantics — a RARE large-volume
        # order: >250 keeps ~1.5% of orders at every sf (140 kept 24%,
        # which broke the "tiny survivor set broadcasts" plan premise)
        .where(F.col("sum_qty") > 250)
    )
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return (
        F.broadcast(big)
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            "sum_qty",
        )
    )


_Q19_ORACLE = f"""
SELECT {_REVENUE_SQL} AS revenue, CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
"""


@_register(
    "sql_tpch_q19",
    _Q19_ORACLE,
    doc="TPC-H Q19 (discounted revenue): the disjunctive-predicate join — "
    "three (brand, size, quantity) condition triples OR'd together "
    "across the join. The planner must keep the equi-key (partkey) as "
    "the join condition and evaluate the disjunction as a post-join "
    "filter, while still pushing the single-table residuals (brand IN, "
    "size ranges on part; quantity range on lineitem) below the join — "
    "the query optimizers historically got wrong by falling back to "
    "nested loops. DataFrame side states the filter exactly once.",
)
def sql_tpch_q19(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(part, F.col("l_partkey") == F.col("p_partkey"))
    q, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#12") & size.between(1, 15) & q.between(1, 11))
        | ((brand == "Brand#23") & size.between(1, 25) & q.between(10, 20))
        | ((brand == "Brand#34") & size.between(1, 35) & q.between(20, 30))
    )
    return j.where(cond).agg(
        _revenue().alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


_MIN_PRICE_ORACLE = """
WITH r AS (
  SELECT p_type, p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS price,
         ROW_NUMBER() OVER (PARTITION BY p_type
                            ORDER BY p_retailprice, p_partkey) AS rk
  FROM part
)
SELECT p_type, p_partkey, p_name, price FROM r WHERE rk = 1
"""


@_register(
    "part_min_price_per_type",
    _MIN_PRICE_ORACLE,
    doc="TPC-H Q2's correlated-min core without partsupp: the cheapest part "
    "within every type (price ties broken by partkey). Spelled as a "
    "rank-1 window rather than a self-join against a per-type MIN "
    "subquery — one shuffle on the grouping key instead of two plus a "
    "re-join, and WindowGroupLimit keeps each partition's running "
    "top-1 so nothing but 6 rows survives the exchange.",
)
def part_min_price_per_type(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    w = Window.partitionBy("p_type").orderBy("p_retailprice", "p_partkey")
    return (
        part.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "p_type",
            "p_partkey",
            "p_name",
            F.col("p_retailprice").alias("price"),
        )
    )


_Q12_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (l_shipdate >  o_orderdate + INTERVAL 60 DAY)
            AS BIGINT) AS late_lines,
       CAST(COUNT(*) FILTER (l_shipdate <= o_orderdate + INTERVAL 60 DAY)
            AS BIGINT) AS ontime_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderpriority
"""


@_register(
    "sql_tpch_q12lite",
    _Q12_ORACLE,
    doc="TPC-H Q12 (shipping modes and order priority), adapted to the "
    "schema's columns: per order priority, how many 1997 lines shipped "
    "more than 60 days after their order vs on time (no l_shipmode — "
    "priority takes its place as the grouping dim). The two-bucket "
    "conditional count over a fact⋈fact join on the order key; both "
    "counts come from ONE pass (FILTER / when-otherwise), not two "
    "scans unioned.",
)
def sql_tpch_q12lite(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    j = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.when(late, 1)).alias("late_lines"),
        F.count(F.when(~late, 1)).alias("ontime_lines"),
    )


# ---------------------------------------------------------------------------
# warehouse analytics
# ---------------------------------------------------------------------------

# Fixed analysis anchor just past the data's last order date — "today" for
# recency/aging computations, pinned so results are reproducible (spec.py
# determinism contract forbids now()).
_ANCHOR = "2001-09-01"

_RFM_ORACLE = f"""
WITH g AS (
  SELECT o_custkey AS c_custkey,
         CAST(date_diff('day', MAX(o_orderdate), TIMESTAMP '{_ANCHOR}')
              AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT c_custkey, recency_days, frequency, monetary,
       CAST(NTILE(4) OVER (ORDER BY recency_days, c_custkey) AS BIGINT)
         AS r_score,
       CAST(NTILE(4) OVER (ORDER BY frequency DESC, c_custkey) AS BIGINT)
         AS f_score,
       CAST(NTILE(4) OVER (ORDER BY monetary DESC, c_custkey) AS BIGINT)
         AS m_score
FROM g
"""


@_register(
    "customer_rfm",
    _RFM_ORACLE,
    doc="RFM segmentation: per customer, days since last order / order "
    "count / exact-decimal lifetime spend, each quartiled into a 1-4 "
    "score. The three NTILE windows are unpartitioned — safe here "
    "because they run on the ALREADY-AGGREGATED customer-grain relation "
    "(|customers| ~ |lineitem|/400; at 100 TB the aggregate output "
    "still fits a single-digit number of partitions, and rank ties are "
    "impossible since custkey completes every ORDER BY). The raw fact "
    "table is reduced by the hash aggregate before any window sees it.",
)
def customer_rfm(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    g = orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.datediff(F.lit(_ANCHOR).cast("date"), F.max("o_orderdate"))
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        dec_sum(F.col("o_totalprice")).alias("monetary"),
    )
    k = F.col("c_custkey")
    return g.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4)
        .over(Window.orderBy(F.col("recency_days"), k))
        .cast("long")
        .alias("r_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("frequency").desc(), k))
        .cast("long")
        .alias("f_score"),
        F.ntile(4)
        .over(Window.orderBy(F.col("monetary").desc(), k))
        .cast("long")
        .alias("m_score"),
    )


_DELAY_ORACLE = """
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
         AS min_days,
       CAST(MAX(date_diff('day', o_orderdate, l_shipdate)) AS BIGINT)
         AS max_days,
       CAST(SUM(CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT))
            AS BIGINT) AS sum_days,
       CAST(SUM(CAST(date_diff('day', o_orderdate, l_shipdate) AS BIGINT))
            AS DOUBLE) / COUNT(*) AS avg_days
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@_register(
    "shipping_delay_stats",
    _DELAY_ORACLE,
    doc="Order-to-ship latency per priority class: min/max/mean days "
    "between order and line shipment — the ops SLA readout. One "
    "fact⋈fact equi-join on the order key then a 5-way hash aggregate; "
    "day deltas are exact integers (both columns are midnight "
    "timestamps), the mean is the exact bigint sum divided once.",
)
def shipping_delay_stats(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    j = orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
    days = F.datediff(F.col("l_shipdate"), F.col("o_orderdate")).cast("long")
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.min(days).alias("min_days"),
        F.max(days).alias("max_days"),
        F.sum(days).alias("sum_days"),
        (F.sum(days).cast("double") / F.count(F.lit(1))).alias("avg_days"),
    )


_BACKLOG_ORACLE = f"""
SELECT LEAST(date_diff('day', o_orderdate, TIMESTAMP '{_ANCHOR}') // 90, 8)
         AS age_band,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS value,
       MIN(o_orderdate) AS oldest
FROM orders
WHERE o_orderstatus <> 'F'
GROUP BY 1
"""


@_register(
    "orders_backlog_aging",
    _BACKLOG_ORACLE,
    doc="Backlog aging report: unfulfilled orders bucketed into 90-day age "
    "bands (capped at band 8 = 2+ years), with count, exact-decimal "
    "value at risk, and the oldest order per band. Scan-filter-"
    "aggregate over a 9-value derived key; the status filter is pushed "
    "to the parquet scan, integer division makes banding exact.",
)
def orders_backlog_aging(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders").where(F.col("o_orderstatus") != "F")
    # integer div: datediff is int, `div` keeps it exact (no float floor)
    band = F.least(F.expr(
        f"datediff(DATE'{_ANCHOR}', o_orderdate) div 90"
    ).cast("long"), F.lit(8).cast("long"))
    return orders.groupBy(band.alias("age_band")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("value"),
        F.min("o_orderdate").alias("oldest"),
    )


_DECILE_ORACLE = """
WITH d AS (
  SELECT s_acctbal, NTILE(10) OVER (ORDER BY s_acctbal, s_suppkey) AS decile
  FROM supplier
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(s_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(s_acctbal) AS DOUBLE) AS max_bal,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS sum_bal
FROM d GROUP BY decile
"""


@_register(
    "supplier_balance_decile",
    _DECILE_ORACLE,
    doc="Account-balance decile table: suppliers ranked into 10 equal-count "
    "buckets (suppkey tie-break makes the assignment total), then "
    "per-decile count/min/max/exact sum — the distribution summary "
    "behind credit-exposure dashboards. The window runs over the "
    "supplier DIM (the small table of the schema), never the facts; "
    "min/max of raw doubles involve no arithmetic and are exact.",
)
def supplier_balance_decile(spark: SparkSession, sf: str) -> DataFrame:
    sup = load_table(spark, sf, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return (
        sup.select("s_acctbal", F.ntile(10).over(w).cast("long").alias("decile"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("s_acctbal").alias("min_bal"),
            F.max("s_acctbal").alias("max_bal"),
            dec_sum(F.col("s_acctbal")).alias("sum_bal"),
        )
    )


_TRADE_ORACLE = """
WITH buy AS (
  SELECT c_nationkey AS nationkey,
         CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_cust,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS buy_value
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_nationkey
), sell AS (
  SELECT s_nationkey AS nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
  FROM supplier GROUP BY s_nationkey
)
SELECT n_name,
       COALESCE(n_cust, 0) AS n_cust,
       COALESCE(buy_value, 0.0) AS buy_value,
       COALESCE(n_supp, 0) AS n_supp
FROM nation
LEFT JOIN buy ON nation.n_nationkey = buy.nationkey
LEFT JOIN sell ON nation.n_nationkey = sell.nationkey
"""


@_register(
    "nation_trade_balance",
    _TRADE_ORACLE,
    doc="Per-nation trade posture: ordering customers and exact-decimal "
    "order value on the buy side, supplier presence on the sell side, "
    "stitched onto the full nation dim (nations with no activity keep "
    "zeros). Two independent aggregates reduced BEFORE any join — the "
    "25-row nation dim then left-joins both 25-row results broadcast, "
    "so the facts are never joined to each other.",
)
def nation_trade_balance(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    sup = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    buy = (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count_distinct(F.col("c_custkey")).alias("n_cust"),
            dec_sum(F.col("o_totalprice")).alias("buy_value"),
        )
    )
    sell = sup.groupBy(F.col("s_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_supp")
    )
    return (
        nation.join(F.broadcast(buy), F.col("n_nationkey") == buy.nationkey, "left")
        .join(F.broadcast(sell), F.col("n_nationkey") == sell.nationkey, "left")
        .select(
            "n_name",
            F.coalesce("n_cust", F.lit(0).cast("long")).alias("n_cust"),
            F.coalesce("buy_value", F.lit(0.0)).alias("buy_value"),
            F.coalesce("n_supp", F.lit(0).cast("long")).alias("n_supp"),
        )
    )


_RECONCILE_ORACLE = """
WITH o AS (
  SELECT CAST(o_orderdate AS DATE) AS day,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS ordered
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-06-01 00:00:00'
  GROUP BY 1
), s AS (
  SELECT CAST(l_shipdate AS DATE) AS day,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS shipped
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
  GROUP BY 1
)
SELECT COALESCE(o.day, s.day) AS day,
       o.ordered AS ordered,
       s.shipped AS shipped,
       CASE WHEN o.day IS NULL THEN 'ship_only'
            WHEN s.day IS NULL THEN 'order_only'
            ELSE 'both' END AS status
FROM o FULL OUTER JOIN s ON o.day = s.day
"""


@_register(
    "join_full_reconcile",
    _RECONCILE_ORACLE,
    doc="Two-ledger reconciliation: daily ordered value vs daily shipped "
    "value FULL OUTER joined on the day, unmatched days tagged — the "
    "closing-the-books query and the registry's full-outer face (inner/"
    "left/semi/anti/range/asof/null-safe are covered elsewhere). Both "
    "sides pre-aggregate to day grain before the join, so the full "
    "outer runs on ~90 rows a side no matter the fact size; the date "
    "filters push to both scans.",
)
def join_full_reconcile(spark: SparkSession, sf: str) -> DataFrame:
    cutoff = "2001-06-01"
    o = (
        load_table(spark, sf, "orders")
        .where(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(dec_sum(F.col("o_totalprice")).alias("ordered"))
    )
    s = (
        load_table(spark, sf, "lineitem")
        .where(F.col("l_shipdate") >= cutoff)
        .groupBy(F.col("l_shipdate").cast("date").alias("day"))
        .agg(dec_sum(F.col("l_extendedprice")).alias("shipped"))
    )
    j = o.join(s, o["day"] == s["day"], "full_outer")
    return j.select(
        F.coalesce(o["day"], s["day"]).alias("day"),
        F.col("ordered"),
        F.col("shipped"),
        F.when(o["day"].isNull(), "ship_only")
        .when(s["day"].isNull(), "order_only")
        .otherwise("both")
        .alias("status"),
    )


_FRESHNESS_ORACLE = """
WITH m AS (
  SELECT event_type, MAX(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), g AS (SELECT MAX(ts) AS global_max FROM events)
SELECT event_type, last_ts, n_events,
       CAST(epoch_us(global_max) - epoch_us(last_ts) AS BIGINT) // 1000000
         AS lag_s,
       (epoch_us(global_max) - epoch_us(last_ts)) // 1000000 > 3600
         AS is_stale
FROM m CROSS JOIN g
"""


@_register(
    "dq_freshness",
    _FRESHNESS_ORACLE,
    doc="Data-freshness SLO: per event type, the high-water timestamp and "
    "its lag behind the globally freshest event, flagged stale past "
    "1 hour — the first monitor wired onto any streaming ingest. Two "
    "aggregates (per-type and global max) with the 1-row global side "
    "cross-broadcast; lag is exact integer microseconds floored to "
    "seconds, so the stale flag can't flap across engines.",
)
def dq_freshness(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    m = ev.groupBy("event_type").agg(
        F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events")
    )
    g = ev.agg(F.max("ts").alias("global_max"))
    # ts is TIMESTAMP_NTZ under the UTC session; unix_micros wants TIMESTAMP.
    # The stale flag compares the SAME floored integer seconds the lag_s
    # column carries — a float (lag_us/1e6 > 3600) would disagree with the
    # oracle's integer-division semantics on a fractional-second boundary.
    lag_s = F.expr(
        "(unix_micros(cast(global_max as timestamp))"
        " - unix_micros(cast(last_ts as timestamp))) div 1000000"
    )
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        "last_ts",
        "n_events",
        lag_s.alias("lag_s"),
        (lag_s > F.lit(3600)).alias("is_stale"),
    )


_YOY_ORACLE = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders GROUP BY 1
)
SELECT month, revenue,
       LAG(revenue, 12) OVER (ORDER BY month) AS prev_year,
       revenue - LAG(revenue, 12) OVER (ORDER BY month) AS yoy_delta
FROM m
"""


@_register(
    "orders_monthly_yoy",
    _YOY_ORACLE,
    doc="Monthly revenue with year-over-year delta: exact-decimal month "
    "totals, then LAG(12) over the month sequence. The unpartitioned "
    "window is over the ~80-row month-grain aggregate (bounded by "
    "calendar time, not data size — it is THE case where a global "
    "window is scale-correct). Both lagged operands are bitwise-"
    "deterministic doubles, so their difference is too.",
)
def orders_monthly_yoy(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    # DuckDB date_trunc('month', ts) yields DATE; match it explicitly
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(dec_sum(F.col("o_totalprice")).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue", 12).over(w)
    return m.select(
        "month",
        "revenue",
        prev.alias("prev_year"),
        (F.col("revenue") - prev).alias("yoy_delta"),
    )


# ---------------------------------------------------------------------------
# text / corpus statistics
# ---------------------------------------------------------------------------

# Every SQL oracle tokenizes exactly like operators.text.words:
# whitespace split of lower(text), empty tokens removed.
_TOK_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
)

_TTR_ORACLE = f"""
WITH t AS (
  SELECT lang, source, unnest({_TOK_SQL}) AS tok FROM documents
)
SELECT lang, source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT tok) AS BIGINT) AS n_types,
       CAST(COUNT(DISTINCT tok) * 1000000 // COUNT(*) AS BIGINT) AS ttr_ppm
FROM t GROUP BY lang, source
"""


@_register(
    "text_ttr_by_source",
    _TTR_ORACLE,
    doc="Type-token ratio per (lang, source): lexical diversity — low TTR "
    "flags boilerplate-heavy or template-generated sources before they "
    "flood a training mix. One explode + hash aggregate with a distinct "
    "count; the ratio is exact integer ppm (no float division). At "
    "100 TB the distinct-count is the cost center — the approx twin "
    "would swap in approx_count_distinct per the X3 pattern.",
)
def text_ttr_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    t = docs.select(
        "lang", "source", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    g = t.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count_distinct(F.col("tok")).alias("n_types"),
    )
    return g.select(
        "lang",
        "source",
        "n_tokens",
        "n_types",
        F.expr("n_types * 1000000 div n_tokens").alias("ttr_ppm"),
    )


_HAPAX_ORACLE = f"""
WITH t AS (
  SELECT lang, unnest({_TOK_SQL}) AS tok FROM documents
), c AS (
  SELECT lang, tok, COUNT(*) AS cnt FROM t GROUP BY lang, tok
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(COUNT(*) FILTER (cnt = 1) AS BIGINT) AS hapax,
       CAST(COUNT(*) FILTER (cnt = 1) * 1000000 // COUNT(*) AS BIGINT)
         AS hapax_ppm
FROM c GROUP BY lang
"""


@_register(
    "text_hapax_rate",
    _HAPAX_ORACLE,
    doc="Hapax legomena rate per language: the share of vocabulary seen "
    "exactly once — high hapax → OCR noise / tokenizer misfires, low "
    "hapax → duplication. Two stacked hash aggregates (token counts, "
    "then count-of-counts); the first is the only one that touches "
    "exploded data, the second runs on the vocabulary-sized relation. "
    "Integer ppm, no floats anywhere.",
)
def text_hapax_rate(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    t = docs.select("lang", F.explode(words(F.lower(F.col("text")))).alias("tok"))
    c = t.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("cnt"))
    g = c.groupBy("lang").agg(
        F.count(F.lit(1)).alias("vocab"),
        F.count(F.when(F.col("cnt") == 1, 1)).alias("hapax"),
    )
    return g.select(
        "lang",
        "vocab",
        "hapax",
        F.expr("hapax * 1000000 div vocab").alias("hapax_ppm"),
    )


_VOCAB_GROWTH_ORACLE = f"""
WITH t AS (
  SELECT doc_id, unnest({_TOK_SQL}) AS tok FROM documents
), first_seen AS (
  SELECT tok, MIN(doc_id) // 50 AS batch FROM t GROUP BY tok
), nb AS (
  SELECT CAST(batch AS BIGINT) AS batch, CAST(COUNT(*) AS BIGINT) AS new_types
  FROM first_seen GROUP BY batch
)
SELECT batch, new_types,
       CAST(SUM(new_types) OVER (ORDER BY batch
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         AS cum_types
FROM nb
"""


@_register(
    "vocab_growth_curve",
    _VOCAB_GROWTH_ORACLE,
    doc="Vocabulary growth (Heaps-law empirics): per 50-document ingest "
    "batch, how many never-before-seen token types appear, plus the "
    "running vocabulary size — the saturation curve that says when "
    "more crawl stops buying new vocabulary. Cumulative-distinct "
    "without any distinct-over-window: each type's FIRST batch is one "
    "MIN aggregate, the curve is a prefix sum over the tiny batch-grain "
    "relation. All integers.",
)
def vocab_growth_curve(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    t = docs.select("doc_id", F.explode(words(F.lower(F.col("text")))).alias("tok"))
    first_seen = t.groupBy("tok").agg(
        F.expr("min(doc_id) div 50").alias("batch")
    )
    nb = first_seen.groupBy("batch").agg(F.count(F.lit(1)).alias("new_types"))
    w = Window.orderBy("batch").rowsBetween(Window.unboundedPreceding, 0)
    return nb.select(
        "batch", "new_types", F.sum("new_types").over(w).alias("cum_types")
    )


_STOPWORD_ORACLE = f"""
WITH t AS (
  SELECT lang, unnest({_TOK_SQL}) AS tok FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (tok IN
         ('the','a','an','of','and','to','in','is','it','that'))
         AS BIGINT) AS n_stop,
       CAST(COUNT(*) FILTER (tok IN
         ('the','a','an','of','and','to','in','is','it','that'))
         * 1000000 // COUNT(*) AS BIGINT) AS stop_ppm
FROM t GROUP BY lang
"""


@_register(
    "stopword_profile",
    _STOPWORD_ORACLE,
    doc="Corpus-level stopword saturation per language against the "
    "operators.text.STOPWORDS lexicon (English function words): the "
    "aggregate twin of text_quality's per-document stopword ratio — "
    "near-zero for non-English langs, so it doubles as a lang-id sanity "
    "check on the corpus level. One conditional hash aggregate over "
    "exploded tokens; integer ppm.",
)
def stopword_profile(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import STOPWORDS, words

    docs = fan_out(load_table(spark, sf, "documents"))
    t = docs.select("lang", F.explode(words(F.lower(F.col("text")))).alias("tok"))
    is_stop = F.col("tok").isin(*STOPWORDS)
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(is_stop, 1)).alias("n_stop"),
    )
    return g.select(
        "lang",
        "n_tokens",
        "n_stop",
        F.expr("n_stop * 1000000 div n_tokens").alias("stop_ppm"),
    )


# Oracle mirror of operators.dedup.minhash_lcg_signatures: the (A, B)
# mixing constants are embedded as SQL array literals from the SAME
# Python source of truth, so both engines compute the identical family.
def _band_stats_oracle() -> str:
    from cve_manager_spark.operators.dedup import LCG_P, lcg_constants

    consts = lcg_constants(32)
    a_arr = "[" + ", ".join(str(a) for a, _ in consts) + "]"
    b_arr = "[" + ", ".join(str(b) for _, b in consts) + "]"
    return f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(regexp_replace(lower(text),
           '\\s+', ' ', 'g')), ' '), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id AS id,
         list_distinct(CASE WHEN len(w) >= 2
           THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ne AS (
  SELECT id, shingles FROM sh WHERE len(shingles) > 0
), base AS (
  SELECT id,
         CAST(('0x' || substr(md5(x), 1, 15)) AS BIGINT) % {LCG_P} AS b31a,
         CAST(('0x' || substr(md5(x), 16, 15)) AS BIGINT) % {LCG_P} AS b31b
  FROM (SELECT id, unnest(shingles) AS x FROM ne)
), sigagg AS (
  SELECT id, s,
         MIN(({a_arr}[CAST(s AS INT) + 1]
              * (CASE WHEN s % 2 = 0 THEN b31a ELSE b31b END)
              + {b_arr}[CAST(s AS INT) + 1]) % {LCG_P}) AS h
  FROM base CROSS JOIN range(0, 32) t(s)
  GROUP BY id, s
), keys AS (
  SELECT id, s // 2 AS b,
         CAST(MIN(CASE WHEN s % 2 = 0 THEN h END) AS VARCHAR) || '|' ||
         CAST(MIN(CASE WHEN s % 2 = 1 THEN h END) AS VARCHAR) AS bkey
  FROM sigagg GROUP BY id, s // 2
), buckets AS (
  SELECT b, bkey, COUNT(*) AS n FROM keys GROUP BY b, bkey
)
SELECT CAST(b AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(COUNT(*) FILTER (n >= 2) AS BIGINT) AS n_colliding,
       CAST(MAX(n) AS BIGINT) AS max_bucket,
       CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
FROM buckets GROUP BY b
"""


@_register(
    "minhash_band_stats",
    _band_stats_oracle(),
    doc="LSH tuning telemetry: per MinHash band (2-gram shingles, 16 bands "
    "× 2 rows), the bucket count, colliding-bucket count, largest bucket "
    "and the candidate-pair bill Σ n·(n−1)/2 — the number that says "
    "whether the banding scheme will blow up BEFORE running the join; "
    "the capacity-planning query run at 100 TB before committing to a "
    "band configuration. Costs one signature pass plus a two-level "
    "aggregate, never materializing a pair. Hash family: ONE md5 per "
    "shingle reduced to a 31-bit base, then 32 universal-hash mixes "
    "(A·x+B mod 2³¹−1, operators.dedup.minhash_lcg_signatures) — "
    "digest CPU and signature shuffle width both drop ~4× vs the "
    "md5-per-seed family dedup_minhash_det keeps for its verified "
    "pipeline; band keys pair two elements for 62-bit collision space.",
)
def minhash_band_stats(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import (
        minhash_lcg_signatures,
        word_shingles,
    )

    docs = fan_out(load_table(spark, sf, "documents"))
    sh = docs.select(
        F.col("doc_id").alias("id"),
        word_shingles(F.col("text"), 2).alias("shingles"),
    ).where(F.size("shingles") > 0)
    ex = sh.select("id", F.explode("shingles").alias("sh"))
    sigs = minhash_lcg_signatures(ex, num_hashes=32)
    # the 16 band structs as ONE parsed expression: the per-struct Column
    # form cost ~0.5 s of py4j round trips per build (guide §5); same
    # explode, same types (CAST(b AS BIGINT) == F.lit(b).cast("long"))
    bands_sql = ",".join(
        f"struct(CAST({b} AS BIGINT) AS band, "
        f"concat_ws('|', s{2 * b}, s{2 * b + 1}) AS bkey)"
        for b in range(16)
    )
    keys = sigs.select(
        F.expr(f"explode(array({bands_sql}))").alias("bk")
    ).select(F.col("bk.band").alias("band"), F.col("bk.bkey").alias("bkey"))
    buckets = keys.groupBy("band", "bkey").agg(F.count(F.lit(1)).alias("n"))
    return buckets.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.count(F.when(F.col("n") >= 2, 1)).alias("n_colliding"),
        F.max("n").alias("max_bucket"),
        F.sum(F.expr("n * (n - 1) div 2")).alias("cand_pairs"),
    )


# ---------------------------------------------------------------------------
# embedding statistics
# ---------------------------------------------------------------------------

_DIM_STATS_ORACLE = """
SELECT CAST(i - 1 AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS DOUBLE) AS min_v,
       CAST(MAX(CAST(embedding[CAST(i AS INT)] AS DOUBLE)) AS DOUBLE) AS max_v,
       CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
                     AS BIGINT)) AS BIGINT) AS sum_micro,
       CAST(SUM(CAST(FLOOR(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
                     AS BIGINT)) // COUNT(*) AS BIGINT) AS mean_micro
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY i
"""


@_register(
    "embedding_dim_stats",
    _DIM_STATS_ORACLE,
    doc="Per-dimension embedding profile: min/max plus exact integer-micro "
    "mean for each of the 64 dims — the drift monitor run on every new "
    "embedding batch (a collapsed or exploding dimension shows up here "
    "first). posexplode → ONE partial-aggregated hash aggregate over a "
    "64-value key; min/max of raw floats involve no arithmetic, the "
    "mean quantizes each value to micro-units BEFORE summing so the "
    "sum is exact integer (float accumulation order can't diverge).",
)
def embedding_dim_stats(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select(F.posexplode("embedding").alias("dim", "v"))
    v = F.col("v").cast("double")
    micro = F.floor(v * 1000000).cast("long")
    g = e.groupBy(F.col("dim").cast("long").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
        F.sum(micro).alias("sum_micro"),
    )
    return g.select(
        "dim", "n", "min_v", "max_v", "sum_micro",
        F.expr("sum_micro div n").alias("mean_micro"),
    )


_BUCKET_HIST_ORACLE = """
SELECT CAST(
         CASE WHEN embedding[1]  > 0 THEN 1  ELSE 0 END
       + CASE WHEN embedding[9]  > 0 THEN 2  ELSE 0 END
       + CASE WHEN embedding[17] > 0 THEN 4  ELSE 0 END
       + CASE WHEN embedding[25] > 0 THEN 8  ELSE 0 END
       + CASE WHEN embedding[33] > 0 THEN 16 ELSE 0 END
       + CASE WHEN embedding[41] > 0 THEN 32 ELSE 0 END AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
FROM embeddings
GROUP BY 1
"""


@_register(
    "embedding_bucket_histogram",
    _BUCKET_HIST_ORACLE,
    doc="Vector shard-plan audit: 6-bit sign-of-coordinate bucket id "
    "(dims 0,8,16,24,32,40) — the degenerate-but-deterministic "
    "hyperplane LSH whose balance this histogram measures, with label "
    "diversity per bucket. Float sign tests are exact (no arithmetic), "
    "so unlike random-hyperplane signatures this bucketing is hash-"
    "checkable cross-engine; ann_lsh holds the production scheme. One "
    "hash aggregate over a 64-value derived key, zero shuffles beyond "
    "it — the partition-pruning story for vector serving at 100 TB.",
)
def embedding_bucket_histogram(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    bucket = sum(
        F.when(F.element_at("embedding", d * 8 + 1) > 0, 1 << d).otherwise(0)
        for d in range(6)
    ).cast("long")
    return emb.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.count_distinct(F.col("label")).alias("n_labels"),
    )


# ---------------------------------------------------------------------------
# event-stream diagnostics
# ---------------------------------------------------------------------------

_INTERARRIVAL_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - LAG(epoch_us(ts)) OVER
           (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
  FROM events
)
SELECT CAST(length(bin((gap_us // 1000) + 1)) AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1
"""


@_register(
    "events_interarrival_hist",
    _INTERARRIVAL_ORACLE,
    doc="Inter-arrival-time histogram on log2 milliseconds: per-user gaps "
    "from one LAG pass (user-partitioned window, event_id tie-break), "
    "bucketed by the bit-length of the gap — floor(log2)+1 computed "
    "with bin()/length, pure integer ops, no float log to diverge. The "
    "burstiness fingerprint that separates human from bot traffic and "
    "sizes session-gap thresholds; the window shuffles once on user_id "
    "and every later aggregate is over ≤64 buckets.",
)
def events_interarrival_hist(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select((us - F.lag(us).over(w)).alias("gap_us")).where(
        F.col("gap_us").isNotNull()
    )
    bucket = F.length(F.bin(F.expr("(gap_us div 1000) + 1"))).cast("long")
    return g.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


_TOP_USER_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(ts AS DATE) AS day, user_id, COUNT(*) AS n
  FROM events GROUP BY 1, 2, 3
), r AS (
  SELECT event_type, day, user_id, CAST(n AS BIGINT) AS n,
         ROW_NUMBER() OVER (PARTITION BY event_type, day
                            ORDER BY n DESC, user_id) AS rk
  FROM c
)
SELECT event_type, day, user_id, n FROM r WHERE rk = 1
"""


@_register(
    "events_top_user_per_type_day",
    _TOP_USER_ORACLE,
    doc="Daily per-type leaderboard head: the single heaviest user for "
    "every (event_type, day) cell — the abuse/power-user watchlist. "
    "Aggregate-then-rank: the hash aggregate reduces to one row per "
    "(type, day, user) BEFORE the window, and WindowGroupLimit carries "
    "only each partition's running best through the exchange. "
    "Deterministic total order (count desc, user_id asc).",
)
def events_top_user_per_type_day(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    c = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type", "day").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("event_type", "day", "user_id", "n")
    )


_BURST_ORACLE = """
WITH m AS (
  SELECT event_type, epoch_us(ts) // 60000000 AS minute, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
), t AS (
  SELECT event_type, minute, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY minute
                        RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS trail
  FROM m
)
SELECT event_type, CAST(minute AS BIGINT) AS minute,
       CAST(cnt AS BIGINT) AS cnt, CAST(trail AS BIGINT) AS trail
FROM t WHERE cnt >= 3 AND cnt * 60 > 3 * trail
"""


@_register(
    "events_burst_minutes",
    _BURST_ORACLE,
    doc="Burst detector: minutes where a type's event rate exceeds 3× its "
    "trailing-hour average — the paging signal for traffic anomalies. "
    "Pre-aggregation to (type, epoch-minute) grain bounds the window "
    "input by time, not event volume; the RANGE frame over the integer "
    "minute key handles gaps in sparse minutes correctly (ROWS would "
    "silently stretch the hour). The threshold compare is cross-"
    "multiplied to stay in integers: cnt·60 > 3·trail, no division; an "
    "absolute floor (cnt ≥ 3) keeps sparse single-event minutes — whose "
    "trailing average is near zero — from reading as bursts.",
)
def events_burst_minutes(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    minute = F.expr("unix_micros(cast(ts as timestamp)) div 60000000")
    m = ev.groupBy("event_type", minute.alias("minute")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("minute")
        .rangeBetween(-59, 0)
    )
    t = m.withColumn("trail", F.sum("cnt").over(w))
    return t.where(
        (F.col("cnt") >= 3) & (F.col("cnt") * 60 > F.col("trail") * 3)
    ).select(
        "event_type", "minute", "cnt", "trail"
    )


# ---------------------------------------------------------------------------
# graph diagnostics (part→supplier shipment graph, as pagerank_links)
# ---------------------------------------------------------------------------

_DEGREE_HIST_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
), o AS (
  SELECT 'out' AS side, CAST(d AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM (SELECT src, COUNT(*) AS d FROM e GROUP BY src) GROUP BY d
), i AS (
  SELECT 'in' AS side, CAST(d AS BIGINT) AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM (SELECT dst, COUNT(*) AS d FROM e GROUP BY dst) GROUP BY d
)
SELECT * FROM o UNION ALL SELECT * FROM i
"""


@_register(
    "graph_degree_hist",
    _DEGREE_HIST_ORACLE,
    doc="Degree distribution of the shipment graph, both sides: how many "
    "parts ship via d suppliers (out) and how many suppliers serve d "
    "parts (in) — the first plot drawn before choosing any graph "
    "algorithm's partitioning (a power-law tail here is why "
    "triangle_count orients by degree and salted_join exists). Two "
    "stacked count-of-counts aggregates unioned; the edge dedup is the "
    "only shuffle that sees data at scale.",
)
def graph_degree_hist(spark: SparkSession, sf: str) -> DataFrame:
    # one scan: a union of two branches would dedup the edge list twice;
    # instead each distinct edge emits its (side, node) stubs in-row and
    # the two count-of-counts run over one exploded relation
    li = load_table(spark, sf, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst")
    ).distinct()
    stubs = e.select(
        F.explode(
            F.array(
                F.struct(F.lit("out").alias("side"), F.col("src").alias("node")),
                F.struct(F.lit("in").alias("side"), F.col("dst").alias("node")),
            )
        ).alias("s")
    ).select("s.side", "s.node")
    d = stubs.groupBy("side", "node").agg(F.count(F.lit(1)).alias("d"))
    return d.groupBy("side", F.col("d").cast("long").alias("degree")).agg(
        F.count(F.lit(1)).alias("n_nodes")
    )


_ASSORT_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey AS dst FROM lineitem
), od AS (SELECT src, COUNT(*) AS x FROM e GROUP BY src),
   idg AS (SELECT dst, COUNT(*) AS y FROM e GROUP BY dst),
   v AS (
  SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM e JOIN od USING (src) JOIN idg USING (dst)
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS syy
  FROM v
)
SELECT n, sx, sy, sxy, sxx, syy,
       CAST(FLOOR((n * sxy - sx * sy) /
            (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
            * 1000000) AS BIGINT) AS assort_micro
FROM s
"""


@_register(
    "graph_degree_assortativity",
    _ASSORT_ORACLE,
    doc="Degree assortativity of the shipment graph: Pearson correlation "
    "between source out-degree and destination in-degree across edges — "
    "negative means hubs connect to leaves (disassortative, the usual "
    "retail shape). Same sufficient-statistics discipline as "
    "corr_regress: six exact decimal sums over integer degrees, one "
    "identical IEEE expression tree for the coefficient, floored to "
    "integer micro. The degree relations are aggregates the planner "
    "broadcasts back onto the edge list — two map-side joins, no "
    "edge-pair materialization.",
)
def graph_degree_assortativity(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    # the deduped edge list feeds three subtrees (both degree aggregates
    # + the moment join). Exchange/stage reuse only dedupes canonically
    # IDENTICAL subtrees, and the inner joins push different IsNotNull
    # sets into each branch's scan (src+dst / src / dst) — measured: the
    # scan+distinct ran 3×. The explicit both-keys filter (a no-op on
    # this data, and rows with a null key can never survive the inner
    # joins anyway) makes the three branches canonically equal, so AQE
    # materializes the distinct exchange once and the other two branches
    # reuse it (1.36 -> 1.01 s solo; an eager localCheckpoint measured
    # slower at 1.38 — the barrier costs more than it saves here).
    e = (
        li.select(F.col("l_partkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    od = e.groupBy("src").agg(F.count(F.lit(1)).alias("x"))
    idg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("y"))
    v = e.join(od, "src").join(idg, "dst")
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — exact wide product
    x, y = F.col("x").cast("long"), F.col("y").cast("long")
    s = v.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(x)).cast("double").alias("sx"),
        F.sum(d(y)).cast("double").alias("sy"),
        F.sum(d(x) * d(y)).cast("double").alias("sxy"),
        F.sum(d(x) * d(x)).cast("double").alias("sxx"),
        F.sum(d(y) * d(y)).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return s.select(
        "n", "sx", "sy", "sxy", "sxx", "syy",
        F.floor(corr * 1000000.0).cast("long").alias("assort_micro"),
    )


# ---------------------------------------------------------------------------
# round-5 late tranche
# ---------------------------------------------------------------------------

_Q7_ORACLE = f"""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS ship_year,
       {_REVENUE_SQL} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name IN ('FRANCE', 'GERMANY') AND sn.n_name IN ('FRANCE', 'GERMANY')
  AND cn.n_name <> sn.n_name
  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


@_register(
    "sql_tpch_q7",
    _Q7_ORACLE,
    doc="TPC-H Q7 (volume shipping): bilateral trade revenue between two "
    "named nations by ship year — the self-joined dimension pattern "
    "(nation joins the fact chain TWICE under different roles, so the "
    "planner must broadcast two aliased copies without confusing their "
    "attributes). The nation filters prune both customer and supplier "
    "sides before the fact join; exact-decimal revenue; year extraction "
    "is exact integer.",
)
def sql_tpch_q7(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1999-01-01")
    )
    sup = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_name").alias("cust_nation")
    ).where(F.col("cust_nation").isin("FRANCE", "GERMANY"))
    sn = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    ).where(F.col("supp_nation").isin("FRANCE", "GERMANY"))
    j = (
        cust.join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
        .where(F.col("cust_nation") != F.col("supp_nation"))
    )
    return j.groupBy(
        "cust_nation",
        "supp_nation",
        F.year("l_shipdate").cast("long").alias("ship_year"),
    ).agg(_revenue().alias("revenue"))


_Q16_ORACLE = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO' AND p_size IN (1, 9, 14, 23, 36, 45, 49, 3)
GROUP BY p_brand, p_type, p_size
"""


@_register(
    "sql_tpch_q16",
    _Q16_ORACLE,
    doc="TPC-H Q16 (parts/supplier relationship), adapted to lineitem as "
    "the part-supplier bridge (no partsupp table): distinct supplier "
    "count per (brand, type, size) cell under negated and IN "
    "predicates. The NOT-equal filters prune on the dim BEFORE the "
    "join; the distinct aggregate is the two-phase expand Spark plans "
    "for COUNT(DISTINCT) — exercised here grouped by three columns.",
)
def sql_tpch_q16(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(
        (F.col("p_brand") != "Brand#45")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 9, 14, 23, 36, 45, 49, 3)
    )
    li = load_table(spark, sf, "lineitem")
    return (
        part.join(li, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


_Q22_ORACLE = """
WITH avg_bal AS (
  SELECT AVG(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS totacctbal_cents
FROM customer CROSS JOIN avg_bal
WHERE CAST(FLOOR(c_acctbal * 100) AS BIGINT) > ab
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


@_register(
    "sql_tpch_q22",
    _Q22_ORACLE,
    doc="TPC-H Q22 (global sales opportunity), adapted: customers with "
    "above-average positive balance who have NEVER ordered, rolled up "
    "by market segment (the schema has no phone country codes — "
    "segment takes their place). Composes the scalar-subquery "
    "broadcast (1-row average, exact integer cents so the threshold "
    "can't drift) with a LEFT ANTI join against orders — the "
    "never-ordered check that a NOT IN would turn into a "
    "null-trapped nested loop.",
)
def sql_tpch_q22(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    cents = F.floor(F.col("c_acctbal") * 100).cast("long")
    avg_bal = (
        cust.where(F.col("c_acctbal") > 0.0)
        .agg(F.avg(cents).alias("ab"))
    )
    rich = cust.crossJoin(F.broadcast(avg_bal)).where(cents > F.col("ab"))
    never = rich.join(
        orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return never.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("numcust"),
        F.sum(cents).alias("totacctbal_cents"),
    )


_FERTILITY_ORACLE = """
SELECT lang,
       CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_words,
       CAST(SUM(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) AS BIGINT) AS n_bpe,
       CAST(SUM(len(regexp_extract_all(text,
            '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))) * 1000000
            // SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> ''))) AS BIGINT)
         AS bpe_per_word_ppm
FROM documents GROUP BY lang
"""


@_register(
    "tokenizer_fertility",
    _FERTILITY_ORACLE,
    doc="Tokenizer fertility per language: BPE-ish segment count per "
    "whitespace word, in exact integer ppm — the number that prices a "
    "language's token budget (high fertility = the tokenizer fragments "
    "that language, so equal-token sampling under-represents it). Both "
    "token counts are in-row size() expressions over one scan (no "
    "explode — the corpus never leaves its rows); one partial+final "
    "hash aggregate on the tiny lang key.",
)
def tokenizer_fertility(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import token_count_bpe, token_count_ws

    docs = fan_out(load_table(spark, sf, "documents"))
    g = docs.groupBy("lang").agg(
        F.sum(token_count_ws(F.lower(F.col("text"))).cast("long")).alias("n_words"),
        F.sum(token_count_bpe(F.col("text")).cast("long")).alias("n_bpe"),
    )
    return g.select(
        "lang",
        "n_words",
        "n_bpe",
        F.expr("n_bpe * 1000000 div n_words").alias("bpe_per_word_ppm"),
    )


_CONFUSION_ORACLE = """
WITH d AS (
  SELECT lang,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '')) AS n_tok,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x IN ('the','a','an','of','and','to','in','is','it','that')))
           AS n_stop
  FROM documents WHERE lang <> 'en'
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (n_stop * 20 >= n_tok AND n_tok > 0) AS BIGINT)
         AS n_suspect
FROM d GROUP BY lang
"""


@_register(
    "lang_confusion_audit",
    _CONFUSION_ORACLE,
    doc="Language-label audit: non-English documents whose English-"
    "stopword share reaches 5% are flagged as suspect mislabels — the "
    "QC pass run before trusting a corpus's lang column for mixture "
    "budgeting. The share test is cross-multiplied integer arithmetic "
    "(n_stop·20 ≥ n_tok), counts computed in-row per document (no "
    "explode), one hash aggregate per lang.",
)
def lang_confusion_audit(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import STOPWORDS, words

    docs = fan_out(load_table(spark, sf, "documents")).where(F.col("lang") != "en")
    w = words(F.lower(F.col("text")))
    n_tok = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    d = docs.select("lang", n_tok.alias("n_tok"), n_stop.alias("n_stop"))
    suspect = (F.col("n_stop") * 20 >= F.col("n_tok")) & (F.col("n_tok") > 0)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(suspect, 1)).alias("n_suspect"),
    )


_ORDER_GAP_ORACLE = """
WITH g AS (
  SELECT o_custkey,
         date_diff('day',
                   LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                   o_orderdate) AS gap_d
  FROM orders
)
SELECT o_custkey AS c_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       CAST(MIN(gap_d) AS BIGINT) AS min_gap_d,
       CAST(MAX(gap_d) AS BIGINT) AS max_gap_d,
       CAST(SUM(CAST(gap_d AS BIGINT)) AS BIGINT) AS sum_gap_d,
       CAST(SUM(CAST(gap_d AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_gap_d
FROM g WHERE gap_d IS NOT NULL
GROUP BY o_custkey
"""


@_register(
    "customer_order_gap_stats",
    _ORDER_GAP_ORACLE,
    doc="Reorder-cadence profile: per customer, the min/max/mean days "
    "between consecutive orders (orderkey tie-break makes the sequence "
    "total) — the replenishment-interval input to churn and inventory "
    "models, and the order-grain sibling of events_interarrival_hist. "
    "One customer-partitioned LAG pass then a hash aggregate on the "
    "same key — both stages share one exchange; day deltas are exact "
    "integers, the mean divides the exact sum once.",
)
def customer_order_gap_stats(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap = F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w))
    g = orders.select(
        F.col("o_custkey").alias("c_custkey"), gap.alias("gap_d")
    ).where(F.col("gap_d").isNotNull())
    return g.groupBy("c_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_d").cast("long").alias("min_gap_d"),
        F.max("gap_d").cast("long").alias("max_gap_d"),
        F.sum(F.col("gap_d").cast("long")).alias("sum_gap_d"),
        (F.sum(F.col("gap_d").cast("long")).cast("double") / F.count(F.lit(1))).alias(
            "avg_gap_d"
        ),
    )


# ---------------------------------------------------------------------------
# round-5 completion tranche — the nine TPC-H faces still missing, closing
# the 22/22 decision-support surface (q12 ships as the adapted q12lite; q2,
# q9, q11, q16, q20 re-target partsupp semantics onto the lineitem bridge
# since the testdata star schema has no partsupp table).
# ---------------------------------------------------------------------------

_Q2_ORACLE = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), eu AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
), cand AS (
  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal, n_name
  FROM part
  JOIN ps ON p_partkey = l_partkey
  JOIN eu ON l_suppkey = s_suppkey
  WHERE p_size = 15 AND p_type = 'STANDARD'
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name, s_suppkey
FROM cand c
WHERE s_acctbal = (SELECT MIN(s_acctbal) FROM cand m
                   WHERE m.p_partkey = c.p_partkey)
ORDER BY s_acctbal DESC, p_partkey, s_suppkey
LIMIT 100
"""


@_register(
    "sql_tpch_q2",
    _Q2_ORACLE,
    doc="TPC-H Q2 (minimum cost supplier), adapted: the part-supplier "
    "bridge is the DISTINCT (l_partkey, l_suppkey) projection of "
    "lineitem and the cost proxy is s_acctbal (no partsupp table). The "
    "defining shape survives intact: a correlated MIN subquery over the "
    "same candidate relation, which the DataFrame side decorrelates "
    "explicitly — one per-part MIN aggregate joined back on "
    "(part, acctbal) equality. The candidate set is built dim-first "
    "(size/type filter prunes part, region filter prunes the supplier "
    "side to 1/5 before either touches the fact-derived bridge); the "
    "join-back is an equi-join on the part key, acctbal doubles pass "
    "through MIN untouched so cross-engine equality is exact. Total "
    "order (acctbal DESC, p_partkey, s_suppkey) before LIMIT 100.",
)
def sql_tpch_q2(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    )
    ps = (
        load_table(spark, sf, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    eu = (
        load_table(spark, sf, "supplier")
        .join(
            F.broadcast(load_table(spark, sf, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(load_table(spark, sf, "region")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .where(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand = (
        part.join(ps, F.col("p_partkey") == F.col("l_partkey"))
        .join(eu, F.col("l_suppkey") == F.col("s_suppkey"))
        .select("p_partkey", "p_name", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    best = cand.groupBy(F.col("p_partkey").alias("bpk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            best,
            (F.col("p_partkey") == F.col("bpk"))
            & (F.col("s_acctbal") == F.col("min_bal")),
        )
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name", "s_suppkey")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(100)
    )


_Q8_ORACLE = """
WITH vol AS (
  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
         CAST(l_extendedprice AS DECIMAL(18,4))
           * (1 - CAST(l_discount AS DECIMAL(18,4))) AS rev,
         sn.n_name AS supp_nation
  FROM part
  JOIN lineitem ON p_partkey = l_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
)
SELECT CAST(o_year AS BIGINT) AS o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS nation_rev,
       CAST(SUM(rev) AS DOUBLE) AS total_rev,
       CAST(FLOOR(CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN rev
                          ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
                  / CAST(SUM(rev) AS DOUBLE) * 1000000) AS BIGINT)
         AS share_ppm
FROM vol GROUP BY o_year
"""


@_register(
    "sql_tpch_q8",
    _Q8_ORACLE,
    doc="TPC-H Q8 (national market share): one supplier nation's share of "
    "AMERICA-region revenue for one part type, by order year — the "
    "8-way join where nation participates TWICE (customer role filters "
    "through region, supplier role only labels) and the measure is a "
    "conditional share. Both sums are exact decimal; the ppm share "
    "divides the two deterministic doubles once (the sql_tpch_q14 "
    "pattern). Dims broadcast at their natural sizes, the selective "
    "p_type filter prunes the fact join via the part dim, and the "
    "two-year date filter reaches the orders scan.",
)
def sql_tpch_q8(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(F.col("p_type") == "ECONOMY")
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1999-01-01")
    )
    cust = load_table(spark, sf, "customer")
    sup = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    cn = nation.select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == F.col("r_regionkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
    )
    rev = dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,4)")
    g = j.groupBy(F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(F.when(F.col("supp_nation") == "NATION_5", rev).otherwise(zero))
        .cast("double")
        .alias("nation_rev"),
        F.sum(rev).cast("double").alias("total_rev"),
    )
    return g.select(
        "o_year",
        "nation_rev",
        "total_rev",
        F.floor(F.col("nation_rev") / F.col("total_rev") * 1000000)
        .cast("long")
        .alias("share_ppm"),
    )


_Q9_ORACLE = """
SELECT sn.n_name AS nation,
       CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS sum_revenue,
       CAST(SUM(CAST(l_quantity AS BIGINT)
                * CAST(ROUND(p_retailprice * 20, 0) AS BIGINT)) AS BIGINT)
         AS supplycost_cents,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                  * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         - CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(ROUND(p_retailprice * 20, 0) AS BIGINT)) AS BIGINT)
           / 100.0 AS sum_profit
FROM part
JOIN lineitem ON p_partkey = l_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY nation, o_year
"""


@_register(
    "sql_tpch_q9",
    _Q9_ORACLE,
    doc="TPC-H Q9 (product type profit), adapted: supply cost is modeled "
    "as 20% of p_retailprice (no partsupp.ps_supplycost), so profit = "
    "revenue − qty·0.2·retail, summed by supplier nation and order "
    "year. The shape is the 5-way fact-through-dims join with a LIKE "
    "filter on the part dim and a two-key rollup. Exactness: a triple "
    "decimal product overflows precision 38 and the engines clamp "
    "scales differently, so the cost leg is integer CENTS instead — "
    "retailprice has one decimal digit, hence retail·20 = "
    "cents(retail/5) is integral and ROUND makes it exact BIGINT; "
    "revenue stays the usual exact decimal sum; profit derives from "
    "the two deterministic aggregates by one IEEE subtract/divide, "
    "identical on identical inputs. Part (LIKE-pruned) and nation "
    "broadcast; orders joins on the fact key to supply the year.",
)
def sql_tpch_q9(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%widget%"))
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders")
    sn = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("nation")
    )
    j = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(sup, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("snk"))
    )
    rev = dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
    cost_cents = F.col("l_quantity").cast("long") * F.round(
        F.col("p_retailprice") * 20, 0
    ).cast("long")
    g = j.groupBy("nation", F.year("o_orderdate").cast("long").alias("o_year")).agg(
        F.sum(rev).cast("double").alias("sum_revenue"),
        F.sum(cost_cents).alias("supplycost_cents"),
    )
    return g.select(
        "nation",
        "o_year",
        "sum_revenue",
        "supplycost_cents",
        (F.col("sum_revenue") - F.col("supplycost_cents") / 100.0).alias("sum_profit"),
    )


_Q11_ORACLE = """
WITH v AS (
  SELECT l_partkey AS p_partkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS val
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT p_partkey, CAST(val AS DOUBLE) AS val
FROM v
WHERE val * (SELECT COUNT(*) FROM v) > 3 * (SELECT SUM(val) FROM v)
"""


@_register(
    "sql_tpch_q11",
    _Q11_ORACLE,
    doc="TPC-H Q11 (important stock identification), adapted: a part's "
    "'stock value' held by one nation's suppliers is its lineitem "
    "extended-price total from those suppliers (no partsupp), and the "
    "query keeps parts worth more than 3× the mean part value — the "
    "original's FRACTION threshold is scale-dependent (TPC-H divides "
    "it by SF), so the mean-relative form keeps the result non-"
    "degenerate at every sf. The defining shape — a grouped aggregate "
    "filtered against a scalar subquery over the SAME aggregate — "
    "survives: Spark computes the per-part aggregate once, crossJoin-"
    "broadcasts its 1-row (count, sum) re-aggregate, and filters with "
    "exact cross-multiplied decimals (val·n > 3·total, no division "
    "anywhere). The nation filter prunes suppliers before the fact "
    "join.",
)
def sql_tpch_q11(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sup = load_table(spark, sf, "supplier")
    nat = load_table(spark, sf, "nation").where(F.col("n_name") == "NATION_7")
    ger = sup.join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey")
    v = (
        li.join(F.broadcast(ger), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(F.sum(dec(F.col("l_extendedprice"))).alias("val"))
    )
    total = v.agg(
        F.count(F.lit(1)).alias("n_parts"), F.sum("val").alias("total")
    )
    return (
        v.crossJoin(F.broadcast(total))
        .where(F.col("val") * F.col("n_parts") > F.col("total") * 3)
        .select("p_partkey", F.col("val").cast("double").alias("val"))
    )


_Q13_ORACLE = """
WITH cc AS (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(COUNT(*) AS BIGINT) AS custdist
FROM cc GROUP BY c_count
"""


@_register(
    "sql_tpch_q13",
    _Q13_ORACLE,
    doc="TPC-H Q13 (customer distribution): the order-count histogram over "
    "ALL customers, zero-order customers included — which forces the "
    "LEFT outer join with the priority predicate INSIDE the join "
    "condition (as a WHERE it would silently drop the never-ordered "
    "customers the query exists to count). Adapted filter: non-urgent "
    "orders (no o_comment column). Two chained hash aggregates: "
    "per-customer count on the join key's own partitioning, then the "
    "tiny histogram rollup. COUNT(o_orderkey) not COUNT(*), so the "
    "null row of an orderless customer counts as zero.",
)
def sql_tpch_q13(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    cc = (
        cust.join(
            orders,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("o_orderpriority") != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return cc.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


_Q15_ORACLE = """
WITH rev AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM supplier JOIN rev ON s_suppkey = supplier_no
WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
"""


@_register(
    "sql_tpch_q15",
    _Q15_ORACLE,
    doc="TPC-H Q15 (top supplier): the supplier(s) whose one-quarter "
    "revenue equals the maximum over all suppliers — the view-plus-"
    "scalar-max shape (the original defines revenue as a VIEW used "
    "twice). Spark builds the per-supplier aggregate once, broadcasts "
    "its 1-row MAX, and filters on exact decimal equality (both sides "
    "are sums of identical decimal terms, so cross-engine equality is "
    "bitwise); the supplier dim joins only to label the survivors. "
    "No LIMIT: the equality predicate itself is the selection, and "
    "ties all surface (deterministic set semantics).",
)
def sql_tpch_q15(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    sup = load_table(spark, sf, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_rev") == F.col("mx"))
        .join(sup, F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


_Q17_ORACLE = """
WITH pa AS (
  SELECT l_partkey AS pk,
         COUNT(*) AS cnt,
         SUM(CAST(l_quantity AS BIGINT)) AS sq
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#5'
  GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_extprice,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lineitem JOIN pa ON l_partkey = pk
WHERE CAST(l_quantity AS BIGINT) * 5 * cnt < sq
"""


@_register(
    "sql_tpch_q17",
    _Q17_ORACLE,
    doc="TPC-H Q17 (small-quantity-order revenue): lines of one brand's "
    "parts whose quantity is below 20% of that part's average quantity "
    "— the correlated-AVG shape, decorrelated into a per-part "
    "(count, sum) aggregate joined back to the fact. The avg "
    "comparison qty < 0.2·(sq/cnt) is cross-multiplied to "
    "5·qty·cnt < sq over exact BIGINTs — no division, no floats, "
    "identical pruning in both engines. The brand filter cuts parts "
    "~1/25 before the aggregate, so the join-back probe side is small; "
    "revenue is an exact decimal sum. (No LIMIT — the final row is a "
    "global 1-row aggregate.)",
)
def sql_tpch_q17(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#5")
    li = load_table(spark, sf, "lineitem")
    lif = li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
    pa = lif.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("l_quantity").cast("long")).alias("sq"),
    )
    return (
        lif.join(F.broadcast(pa), F.col("l_partkey") == F.col("pk"))
        .where(F.col("l_quantity").cast("long") * 5 * F.col("cnt") < F.col("sq"))
        .agg(
            F.sum(dec(F.col("l_extendedprice"))).cast("double").alias("sum_extprice"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_Q20_ORACLE = """
WITH q AS (
  SELECT l_partkey AS pk, l_suppkey AS sk,
         SUM(CAST(l_quantity AS BIGINT)) AS q_ps
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY l_partkey, l_suppkey
), tot AS (
  SELECT pk, SUM(q_ps) AS q_p FROM q GROUP BY pk
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND EXISTS (
    SELECT 1 FROM q JOIN tot ON q.pk = tot.pk
    WHERE q.sk = s_suppkey AND q.q_ps * 5 > q_p
  )
"""


@_register(
    "sql_tpch_q20",
    _Q20_ORACLE,
    doc="TPC-H Q20 (potential part promotion), adapted: availqty has no "
    "source table, so the 'holds meaningful stock' test becomes "
    "'shipped more than 20% of the part's 1997 volume' — a supplier "
    "in one nation qualifies if some small% part's yearly flow is "
    "dominated by them. The nested-subquery shape survives: an inner "
    "per-(part, supplier) aggregate compared against a per-part "
    "re-aggregate (cross-multiplied exact BIGINTs), collapsed into "
    "the outer supplier scan via a LEFT SEMI join — the EXISTS that "
    "never duplicates a supplier however many parts qualify. The "
    "nation filter broadcasts; the p_name LIKE prefix filter prunes "
    "the part dim before the fact join.",
)
def sql_tpch_q20(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part").where(F.col("p_name").like("small%"))
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    q = (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.col("l_partkey").alias("pk"), F.col("l_suppkey").alias("sk"))
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q_ps"))
    )
    tot = q.groupBy("pk").agg(F.sum("q_ps").alias("q_p"))
    dominant = q.join(tot, "pk").where(F.col("q_ps") * 5 > F.col("q_p"))
    nat = load_table(spark, sf, "nation").where(F.col("n_name") == "NATION_3")
    sup = load_table(spark, sf, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return sup.join(
        dominant, F.col("s_suppkey") == F.col("sk"), "left_semi"
    ).select("s_suppkey", "s_name")


_Q21_ORACLE = """
WITH base AS (
  SELECT l_orderkey, l_suppkey, l_linenumber,
         (l_shipdate > o_orderdate + INTERVAL 60 DAY) AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
)
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM base l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1' AND l1.late
  AND EXISTS (SELECT 1 FROM base l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM base l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 100
"""


@_register(
    "sql_tpch_q21",
    _Q21_ORACLE,
    doc="TPC-H Q21 (suppliers who kept orders waiting), adapted: 'late' "
    "is shipping >60 days after the order date (no commit/receipt "
    "dates). The triple-correlation shape survives exactly — for each "
    "late line of a finished multi-supplier order, SOME other supplier "
    "contributed (EXISTS → LEFT SEMI on orderkey with a non-equal "
    "suppkey conjunct) and NO other supplier was late (NOT EXISTS → "
    "LEFT ANTI on the late subset) — the one query whose plan "
    "composes a semi AND an anti join against the same derived "
    "relation. The base fact⋈orders join computes lateness once; the "
    "nation filter broadcasts into the supplier probe. Total order "
    "(numwait DESC, s_suppkey) before LIMIT 100.",
)
def sql_tpch_q21(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders").where(F.col("o_orderstatus") == "F")
    base = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        "l_linenumber",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")).alias(
            "late"
        ),
    )
    nat = load_table(spark, sf, "nation").where(F.col("n_name") == "NATION_1")
    sup = load_table(spark, sf, "supplier").join(
        F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")
    )
    l1 = base.where(F.col("late")).join(
        F.broadcast(sup.select("s_suppkey", "s_name")),
        F.col("l_suppkey") == F.col("s_suppkey"),
    )
    l2 = base.select(
        F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = base.where(F.col("late")).select(
        F.col("l_orderkey").alias("ok3"), F.col("l_suppkey").alias("sk3")
    )
    waited = (
        l1.join(
            l2,
            (F.col("l_orderkey") == F.col("ok2"))
            & (F.col("l_suppkey") != F.col("sk2")),
            "left_semi",
        ).join(
            l3,
            (F.col("l_orderkey") == F.col("ok3"))
            & (F.col("l_suppkey") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        waited.groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# round-5 QC tranche: corpus-hygiene reports that close the loop between
# the dedup operators and the decisions made on their output.
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE len(shingles) > 0
), first AS (
  SELECT shingle, MIN(doc_id) AS first_doc FROM ex GROUP BY shingle
)
SELECT ex.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (first.first_doc = ex.doc_id) AS BIGINT) AS n_novel,
       CAST(COUNT(*) FILTER (first.first_doc = ex.doc_id) * 1000000
            // COUNT(*) AS BIGINT) AS novelty_ppm
FROM ex JOIN first USING (shingle)
GROUP BY ex.doc_id
"""


@_register(
    "shingle_novelty",
    _NOVELTY_ORACLE,
    doc="Incremental-dedup preview: per document (in doc_id ingest order), "
    "the fraction of its word-3-gram shingles appearing for the FIRST "
    "time — the marginal-novelty curve that decides when a crawl "
    "source has been exhausted (novelty_ppm trending to zero = the "
    "source is repeating itself). First-seen is MIN(doc_id) per "
    "shingle — one shingle-keyed hash aggregate — joined back to the "
    "exploded relation on the same key, so both sides share one "
    "exchange layout; the per-doc rollup is exact integer ppm. Same "
    "shingle definition (operators/dedup.word_shingles, one codegen "
    "regex pass) as the containment/Jaccard family, so the novelty "
    "report prices exactly the shingles those operators would join on.",
)
def shingle_novelty(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_shingles

    docs = fan_out(load_table(spark, sf, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("shingle")
    )
    first = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    j = sh.join(first, "shingle")
    novel = F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
    g = j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        novel.alias("n_novel"),
    )
    return g.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr("n_novel * 1000000 div n_shingles").alias("novelty_ppm"),
    )


_DUP_HIST_ORACLE = """
WITH g AS (
  SELECT sha256(text) AS d, COUNT(*) AS n FROM documents GROUP BY 1
)
SELECT CAST(n AS BIGINT) AS dup_count,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(n * COUNT(*) AS BIGINT) AS n_docs
FROM g GROUP BY n
"""


@_register(
    "dup_cluster_size_hist",
    _DUP_HIST_ORACLE,
    doc="Exact-duplicate multiplicity histogram: how many content groups "
    "appear once, twice, k times — the shape that distinguishes a "
    "mirrored-site corpus (few huge groups) from boilerplate spread "
    "(many small ones) and prices what dedup_exact will delete. Two "
    "chained hash aggregates: the digest group-by is the only "
    "data-sized shuffle (and ships 32-byte digests, not text); the "
    "count-of-counts input is one row per distinct document.",
)
def dup_cluster_size_hist(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    g = docs.groupBy(F.sha2(F.col("text"), 256).alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.groupBy(F.col("n").alias("dup_count")).agg(
        F.count(F.lit(1)).alias("n_groups"),
        (F.col("dup_count") * F.count(F.lit(1))).alias("n_docs"),
    )


_PII_DENSITY_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS n_tokens,
       CAST(SUM(len(regexp_extract_all(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+'))) AS BIGINT) AS n_emails,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]{4,}'))) AS BIGINT)
         AS n_digit_runs,
       CAST(SUM(len(regexp_extract_all(text,
            '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+'))) * 1000000
            // SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> ''))) AS BIGINT) AS email_ppm,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]{4,}'))) * 1000000
            // SUM(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                   x -> x <> ''))) AS BIGINT) AS digit_ppm
FROM documents GROUP BY source
"""


@_register(
    "pii_density_by_source",
    _PII_DENSITY_ORACLE,
    doc="PII exposure report: emails and long digit runs per million "
    "tokens, by source — the audit that decides which sources need "
    "text_pii_mask before release, using the SAME regexes the masker "
    "applies (so the report predicts exactly what masking will touch). "
    "All counts are in-row size(regexp_extract_all) expressions over "
    "one scan — the corpus never explodes — and one hash aggregate on "
    "the tiny source key; ratios are exact integer ppm.",
)
def pii_density_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import token_count_ws

    docs = fan_out(load_table(spark, sf, "documents"))
    n_email = F.size(
        F.regexp_extract_all(
            F.col("text"), F.lit(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"), F.lit(0)
        )
    )
    n_digit = F.size(
        F.regexp_extract_all(F.col("text"), F.lit(r"[0-9]{4,}"), F.lit(0))
    )
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(F.lower(F.col("text"))).cast("long")).alias("n_tokens"),
        F.sum(n_email.cast("long")).alias("n_emails"),
        F.sum(n_digit.cast("long")).alias("n_digit_runs"),
    )
    return g.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_emails",
        "n_digit_runs",
        F.expr("n_emails * 1000000 div n_tokens").alias("email_ppm"),
        F.expr("n_digit_runs * 1000000 div n_tokens").alias("digit_ppm"),
    )


# ---------------------------------------------------------------------------
# data-governance audits (folded from the round-10d tranche): the
# privacy-risk numbers a dataset release (or training-corpus card)
# must report before data leaves the boundary. k-anonymity /
# l-diversity / re-identification-uniqueness (Sweeney;
# Machanavajjhala et al.) are pure integer aggregates over
# quasi-identifier groups, so they hash-verify exactly; each audit
# costs one dimension-table group-by (plus one fact join for
# l-diversity). Balance band: FLOOR(x*100) exact cents trunc-divided.
# ---------------------------------------------------------------------------


_KANON_ORACLE = """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(COUNT(*) AS BIGINT) AS k
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT k, CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(k) AS BIGINT) AS n_rows
FROM g GROUP BY k
"""


@_register(
    "k_anonymity_audit",
    _KANON_ORACLE,
    doc="k-anonymity profile of the customer table under the "
    "(nation, market-segment) quasi-identifier: the distribution of "
    "equivalence-class sizes — how many groups (and how many ROWS) "
    "sit at each k. Rows in k=1 groups are directly re-identifiable "
    "by anyone holding the quasi-identifier; a release gate reads "
    "'no rows below k=5' straight off this histogram. One group-by "
    "over the dimension table + a bounded re-aggregate.",
)
def k_anonymity_audit(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("k")
    )
    return g.groupBy("k").agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("k").cast("bigint").alias("n_rows"),
    )


_LDIV_ORACLE = """
SELECT c.c_nationkey, c.c_mktsegment,
       CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_nationkey, c.c_mktsegment
"""


@_register(
    "l_diversity_audit",
    _LDIV_ORACLE,
    doc="l-diversity of the order-priority 'sensitive attribute' within "
    "each (nation, segment) quasi-identifier group: a group can be "
    "k-anonymous yet still leak — if every order in it shares one "
    "priority, knowing someone is in the group reveals their value "
    "(the homogeneity attack l-diversity exists to catch). Emits per "
    "group the member/order counts and the distinct sensitive-value "
    "count; l=1 groups are the leak. One fact join + one group-by; "
    "the group relation is dimension-bounded.",
)
def l_diversity_audit(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey)
    return j.groupBy("c_nationkey", "c_mktsegment").agg(
        F.countDistinct("c_custkey").cast("bigint").alias("n_customers"),
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
    )


_UNIQ_ORACLE = """
WITH q AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(FLOOR(c_acctbal * 100) AS BIGINT) // 200000 AS bal_band
  FROM customer
), g AS (
  SELECT c_nationkey, c_mktsegment, bal_band, CAST(COUNT(*) AS BIGINT) AS k
  FROM q GROUP BY c_nationkey, c_mktsegment, bal_band
)
SELECT CAST(SUM(k) AS BIGINT) AS n_customers,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN k = 1 THEN 1 ELSE 0 END) * 1000000
            // SUM(k) AS BIGINT) AS unique_ppm,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
         AS n_rows_below_k5,
       CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000
            // SUM(k) AS BIGINT) AS below_k5_ppm
FROM g
"""


@_register(
    "quasi_id_uniqueness",
    _UNIQ_ORACLE,
    doc="Re-identification risk under a RICHER quasi-identifier — "
    "(nation, segment, 2000-unit account-balance band): the share of "
    "customers whose combination is UNIQUE in the table (a linker "
    "holding these three attributes re-identifies them outright) and "
    "the share in sub-k=5 groups. Adding one numeric band to the "
    "k_anonymity_audit quasi-ID typically explodes uniqueness — the "
    "measurement behind 'generalize or drop the column' release "
    "decisions. The band is FLOOR(x*100) exact cents trunc-divided "
    "(engine-identical on negative balances); output is one summary "
    "row of exact integers/ppm.",
)
def quasi_id_uniqueness(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    band = F.expr(
        "CAST(FLOOR(c_acctbal * 100) AS BIGINT) div 200000"
    ).alias("bal_band")
    g = cust.select("c_nationkey", "c_mktsegment", band).groupBy(
        "c_nationkey", "c_mktsegment", "bal_band"
    ).agg(F.count(F.lit(1)).alias("k"))
    uniq = F.when(F.col("k") == 1, 1).otherwise(0)
    small = F.when(F.col("k") < 5, F.col("k")).otherwise(0)
    return g.groupBy().agg(
        F.sum("k").cast("bigint").alias("n_customers"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(uniq).cast("bigint").alias("n_unique"),
        F.expr(
            "CAST(sum(CASE WHEN k = 1 THEN 1 ELSE 0 END) * 1000000 "
            "div sum(k) AS BIGINT)"
        ).alias("unique_ppm"),
        F.sum(small).cast("bigint").alias("n_rows_below_k5"),
        F.expr(
            "CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) * 1000000 "
            "div sum(k) AS BIGINT)"
        ).alias("below_k5_ppm"),
    )


# t-closeness (Li, Ninghui et al.): a group can be k-anonymous AND
# l-diverse yet still leak if its sensitive-value DISTRIBUTION skews
# far from the table's — knowing someone is in an all-URGENT nation
# segment is a disclosure even with all 5 priorities present. The
# metric is the earth-mover's distance between group and global
# distributions over the ORDERED sensitive attribute; for m ordered
# categories with unit spacing, EMD = sum_j |cumsum_j(p - q)| / (m-1).
# Exactness: fractions n_i/N vs m_i/M are cleared by cross-multiplying
# — diff_i = n_i*M - m_i*N is an exact integer, cumulative sums stay
# integers, and t_ppm = 1e6 * sum|cum| / ((m-1)*N*M) truncates once at
# the end. At warehouse scale N*M overflows int64 (1e9 * 1.5e11), so
# both engines run the cumsum in DECIMAL(38,0), the same discipline as
# the semantic-dedup integer cosine.

_TCLOSE_ORACLE = """
WITH j AS (
  SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS p
  FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
), gp AS (
  SELECT c_nationkey, c_mktsegment, p, CAST(COUNT(*) AS BIGINT) AS np
  FROM j GROUP BY c_nationkey, c_mktsegment, p
), g AS (
  SELECT c_nationkey, c_mktsegment, CAST(SUM(np) AS BIGINT) AS n
  FROM gp GROUP BY c_nationkey, c_mktsegment
), gl AS (
  SELECT p, CAST(COUNT(*) AS BIGINT) AS mp FROM j GROUP BY p
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m, CAST(COUNT(DISTINCT p) AS BIGINT) AS nprio
  FROM j
), grid AS (
  SELECT g.c_nationkey, g.c_mktsegment, g.n, gl.p, gl.mp,
         CAST(COALESCE(gp.np, 0) AS BIGINT) AS np
  FROM g CROSS JOIN gl
  LEFT JOIN gp ON gp.c_nationkey = g.c_nationkey
             AND gp.c_mktsegment = g.c_mktsegment AND gp.p = gl.p
), cum AS (
  SELECT c_nationkey, c_mktsegment, n,
         SUM(CAST(np AS DECIMAL(38, 0)) * (SELECT m FROM tot)
             - CAST(mp AS DECIMAL(38, 0)) * n)
           OVER (PARTITION BY c_nationkey, c_mktsegment ORDER BY p) AS c
  FROM grid
)
SELECT c_nationkey, c_mktsegment, CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(CAST(SUM(ABS(c)) AS HUGEINT) * 1000000
            // (((SELECT nprio FROM tot) - 1)
                * CAST(MAX(n) AS HUGEINT) * (SELECT m FROM tot)) AS BIGINT) AS t_ppm
FROM cum GROUP BY c_nationkey, c_mktsegment
"""


@_register(
    "t_closeness_audit",
    _TCLOSE_ORACLE,
    doc="t-closeness of order priority within each (nation, segment) "
    "quasi-identifier group — the third privacy-release gate after "
    "k_anonymity_audit and l_diversity_audit: earth-mover's distance "
    "between the group's ordered sensitive-value distribution and the "
    "table-wide one, in exact integer ppm (cross-multiplied counts, "
    "DECIMAL(38,0) cumsum — no float division until the final single "
    "truncation). Groups with t above threshold leak by skew even when "
    "k and l pass. Plan: one fact group-by; the 5-row global "
    "distribution broadcasts onto the dimension-bounded group grid, "
    "and the EMD window runs over groups x 5 rows, never facts.",
)
def t_closeness_audit(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey).select(
        "c_nationkey", "c_mktsegment", F.col("o_orderpriority").alias("p")
    )
    gp = j.groupBy("c_nationkey", "c_mktsegment", "p").agg(
        F.count(F.lit(1)).cast("bigint").alias("np")
    )
    g = gp.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("np").cast("bigint").alias("n")
    )
    glob = j.groupBy("p").agg(F.count(F.lit(1)).cast("bigint").alias("mp"))
    tot = j.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.countDistinct("p").cast("bigint").alias("nprio"),
    )
    grid = (
        g.crossJoin(F.broadcast(glob))
        .join(gp, ["c_nationkey", "c_mktsegment", "p"], "left")
        .withColumn("np", F.coalesce("np", F.lit(0)).cast("bigint"))
        .crossJoin(F.broadcast(tot))
    )
    w = (
        Window.partitionBy("c_nationkey", "c_mktsegment")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    diff = F.col("np").cast("decimal(38,0)") * F.col("m") - F.col(
        "mp"
    ).cast("decimal(38,0)") * F.col("n")
    cum = grid.withColumn("c", F.sum(diff).over(w))
    return cum.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.expr(
            "CAST(sum(abs(c)) * 1000000 div "
            "((max(nprio) - 1) * CAST(max(n) AS DECIMAL(38,0)) * max(m)) "
            "AS BIGINT)"
        ).alias("t_ppm"),
    )


_HASH_SAMPLE_Q_ORACLE = """
WITH ev AS (
  SELECT event_id, CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
), samp AS (
  SELECT event_id, v FROM (
    SELECT event_id, v, md5(CAST(event_id AS VARCHAR)) AS d
    FROM ev ORDER BY d, event_id LIMIT 256)
), r AS (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn FROM samp
), ns AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM samp
), qs AS (
  SELECT unnest([500000, 900000, 990000]) AS q_ppm
), est AS (
  SELECT qs.q_ppm, r.v AS est_milli
  FROM qs CROSS JOIN ns JOIN r ON r.rn = 1 + qs.q_ppm * (ns.ns - 1) // 1000000
), cnt AS (
  SELECT est.q_ppm, est.est_milli, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ev.v <= est.est_milli THEN 1 ELSE 0 END)
              AS BIGINT) AS cnt_le
  FROM ev CROSS JOIN est GROUP BY est.q_ppm, est.est_milli
)
SELECT CAST(q_ppm AS INTEGER) AS q_ppm, est_milli,
       CAST(cnt_le * 1000000 // n AS BIGINT) AS achieved_ppm,
       CAST(ABS(cnt_le * 1000000 // n - q_ppm) AS BIGINT) AS abs_err_ppm
FROM cnt
"""


@_register(
    "hash_sample_quantile_error",
    _HASH_SAMPLE_Q_ORACLE,
    doc="Sampling-based quantile estimation, audited: estimate P50/P90/"
    "P99 of the event value from the 256 rows with the SMALLEST "
    "md5(event_id) — a uniform random sample that is deterministic and "
    "engine-reproducible because the randomness is the hash, not an "
    "RNG (the md5-rebuilt-sketch discipline of the CMS/Bloom audits "
    "applied to the sampling estimator family) — then measure each "
    "estimate's TRUE rank on the full table and report the achieved "
    "quantile and absolute rank error in ppm. This is the "
    "capacity-planning curve for 'how small a sample dares estimate "
    "the tail': k=256 holds P50 within ~2^-8-scale error but the P99 "
    "rank error shows the tail undersampling directly. Cluster cost: "
    "one TakeOrderedAndProject(256) over the scan (per-partition "
    "digest heaps — no shuffle of the data, no RNG seed to "
    "distribute), a 256-row single-partition window, and ONE "
    "conditional-aggregate pass with the 3-row estimate relation "
    "broadcast — the full table is scanned exactly twice regardless "
    "of how many quantiles are audited.",
)
def hash_sample_quantile_error(spark: SparkSession, sf: str) -> DataFrame:
    k = 256
    ev = load_table(spark, sf, "events").select(
        "event_id", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    samp = (
        ev.select(
            "event_id", "v", F.md5(F.col("event_id").cast("string")).alias("d")
        )
        .orderBy("d", "event_id")
        .limit(k)
        .select("event_id", "v")
    )
    # 256 rows: the single-partition windows are bounded by k, not the
    # data; ns rides the SAME window pass so the sample branch scans the
    # table once, not twice
    w = Window.orderBy("v", "event_id")
    ranked = (
        samp.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "ns",
            F.count(F.lit(1)).over(
                w.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
        .select("v", "rn", "ns")
    )
    qs = values_relation(
        spark, [(500000,), (900000,), (990000,)], "q_ppm int"
    )
    est = (
        qs.join(
            F.broadcast(ranked),
            F.col("rn")
            == F.expr("CAST(1 + q_ppm * (ns - 1) div 1000000 AS INT)"),
        )
        .select("q_ppm", F.col("v").alias("est_milli"))
    )
    cnt = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("q_ppm", "est_milli")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v") <= F.col("est_milli"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_le"),
        )
    )
    return cnt.select(
        "q_ppm",
        "est_milli",
        F.expr("CAST(cnt_le * 1000000 div n AS BIGINT)").alias("achieved_ppm"),
        F.expr("CAST(ABS(cnt_le * 1000000 div n - q_ppm) AS BIGINT)").alias(
            "abs_err_ppm"
        ),
    )


_SAMPLE_SWEEP_ORACLE = """
WITH ev AS (
  SELECT event_id, CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
), samp AS (
  SELECT event_id, v, ROW_NUMBER() OVER (ORDER BY d, event_id) AS rs
  FROM (
    SELECT event_id, v, md5(CAST(event_id AS VARCHAR)) AS d
    FROM ev ORDER BY d, event_id LIMIT 1024)
), ks AS (
  SELECT unnest([64, 256, 1024]) AS k
), r AS (
  SELECT ks.k, s.v,
         ROW_NUMBER() OVER (PARTITION BY ks.k ORDER BY s.v, s.event_id)
           AS rn,
         COUNT(*) OVER (PARTITION BY ks.k) AS ns
  FROM samp s CROSS JOIN ks WHERE s.rs <= ks.k
), qs AS (
  SELECT unnest([500000, 900000, 990000]) AS q_ppm
), est AS (
  SELECT r.k, qs.q_ppm, r.v AS est_milli
  FROM r CROSS JOIN qs WHERE r.rn = 1 + qs.q_ppm * (r.ns - 1) // 1000000
), cnt AS (
  SELECT est.k, est.q_ppm, est.est_milli, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN ev.v <= est.est_milli THEN 1 ELSE 0 END)
              AS BIGINT) AS cnt_le
  FROM ev CROSS JOIN est GROUP BY est.k, est.q_ppm, est.est_milli
)
SELECT CAST(k AS INTEGER) AS k, CAST(q_ppm AS INTEGER) AS q_ppm, est_milli,
       CAST(cnt_le * 1000000 // n AS BIGINT) AS achieved_ppm,
       CAST(ABS(cnt_le * 1000000 // n - q_ppm) AS BIGINT) AS abs_err_ppm
FROM cnt
"""


@_register(
    "sample_size_quantile_sweep",
    _SAMPLE_SWEEP_ORACLE,
    doc="The sample-size dial for hash-sample quantile estimation, "
    "measured as a curve: P50/P90/P99 estimated at k in {64, 256, "
    "1024} and each estimate's TRUE rank error on the full table, in "
    "one report. The md5-ordered sample is NESTED (the k=64 sample is "
    "a prefix of the k=1024 one — bottom-k by a fixed hash is "
    "monotone in k), so ONE TakeOrderedAndProject(1024) pass serves "
    "every k, and one broadcast conditional-aggregate pass audits all "
    "9 (k, q) cells — two table scans for the whole sweep, the "
    "shingle_size_sweep one-scan-per-dial discipline applied to the "
    "sampling family. Read next to hash_sample_quantile_error: that "
    "is the production gate at the chosen k, this is how k gets "
    "chosen.",
)
def sample_size_quantile_sweep(spark: SparkSession, sf: str) -> DataFrame:
    kmax = 1024
    ev = load_table(spark, sf, "events").select(
        "event_id", F.floor(F.col("value") * 1000).cast("long").alias("v")
    )
    samp = (
        ev.select(
            "event_id", "v", F.md5(F.col("event_id").cast("string")).alias("d")
        )
        .orderBy("d", "event_id")
        .limit(kmax)
    )
    # <= 1024 rows past this point: single-partition windows bounded by
    # kmax, then broadcast — the data-sized work is the two ev scans
    ws = Window.orderBy("d", "event_id")
    samp = samp.withColumn("rs", F.row_number().over(ws)).select(
        "event_id", "v", "rs"
    )
    ks = values_relation(spark, [(64,), (256,), (1024,)], "k int")
    r = samp.crossJoin(F.broadcast(ks)).where(F.col("rs") <= F.col("k"))
    wk = Window.partitionBy("k").orderBy("v", "event_id")
    r = r.withColumn("rn", F.row_number().over(wk)).withColumn(
        "ns",
        F.count(F.lit(1)).over(
            Window.partitionBy("k").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ),
    )
    qs = values_relation(
        spark, [(500000,), (900000,), (990000,)], "q_ppm int"
    )
    est = (
        r.crossJoin(F.broadcast(qs))
        .where(
            F.col("rn")
            == F.expr("CAST(1 + q_ppm * (ns - 1) div 1000000 AS INT)")
        )
        .select("k", "q_ppm", F.col("v").alias("est_milli"))
    )
    cnt = (
        ev.crossJoin(F.broadcast(est))
        .groupBy("k", "q_ppm", "est_milli")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("v") <= F.col("est_milli"), 1).otherwise(0))
            .cast("bigint")
            .alias("cnt_le"),
        )
    )
    return cnt.select(
        "k",
        "q_ppm",
        "est_milli",
        F.expr("CAST(cnt_le * 1000000 div n AS BIGINT)").alias("achieved_ppm"),
        F.expr("CAST(ABS(cnt_le * 1000000 div n - q_ppm) AS BIGINT)").alias(
            "abs_err_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# folded from the round6 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# 2. behavioral analytics
# ---------------------------------------------------------------------------

_DECILES_ORACLE = """
WITH d AS (
  SELECT event_type, value, event_id,
         NTILE(10) OVER (PARTITION BY event_type ORDER BY value, event_id)
           AS decile
  FROM events
)
SELECT event_type, CAST(decile AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(value) AS min_value,
       MAX(value) AS max_value,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM d GROUP BY event_type, decile
"""


@_register(
    "event_value_deciles_by_type",
    _DECILES_ORACLE,
    doc="Per-type value deciles: ntile over a total order (value, "
    "event_id — the unique tie-break the determinism contract "
    "requires), then per-decile count/min/max and an exact DECIMAL "
    "sum. The window partitions by event_type and its exchange is "
    "reused by the following aggregate. Exact ntile sorts each type's "
    "full volume — at 100 TB swap in the rank-selection recipe "
    "(value-histogram aggregate + in-row quantile fold, the "
    "median_exact/winsorize_stats plan) or approx_percentile; this "
    "spec is the exact-semantics face.",
)
def event_value_deciles_by_type(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    d = ev.select(
        "event_type", "value", F.ntile(10).over(w).cast("long").alias("decile")
    )
    return d.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        dec_sum(F.col("value")).alias("sum_value"),
    )


_SESS_HIST_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
               OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx,
         ts
  FROM g
), d AS (
  SELECT user_id, session_idx,
         (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 60000000 AS dur_min
  FROM s GROUP BY user_id, session_idx
)
SELECT LEAST(dur_min // 10, 12) AS dur_band,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MIN(dur_min) AS BIGINT) AS min_minutes,
       CAST(MAX(dur_min) AS BIGINT) AS max_minutes
FROM d GROUP BY 1
"""


@_register(
    "session_duration_hist",
    _SESS_HIST_ORACLE,
    doc="Session-duration histogram in 10-minute bands (capped at 2h+): "
    "gap-based sessionization (30-min silence, the sessionize_stats "
    "recipe) reduced to the distribution product managers actually "
    "read. Every stage partitions on user_id until the final tiny "
    "band aggregate; durations are exact integer microseconds "
    "floor-divided to minutes.",
)
def session_duration_hist(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    prev = F.lag(us).over(w)
    new_sess = F.when(prev.isNull() | (us - prev > 1_800_000_000), 1).otherwise(0)
    s = ev.select(
        "user_id", "ts", "event_id", new_sess.alias("new_sess")
    ).withColumn(
        "session_idx",
        F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    d = s.groupBy("user_id", "session_idx").agg(
        F.expr(
            "(unix_micros(cast(max(ts) as timestamp))"
            " - unix_micros(cast(min(ts) as timestamp))) div 60000000"
        ).alias("dur_min")
    )
    band = F.least(F.expr("dur_min div 10"), F.lit(12).cast("long"))
    return d.groupBy(band.alias("dur_band")).agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.min("dur_min").alias("min_minutes"),
        F.max("dur_min").alias("max_minutes"),
    )


_RETENTION_ORACLE = """
WITH f AS (
  SELECT user_id, MIN(ts) AS first_ts FROM events GROUP BY user_id
), r AS (
  SELECT f.user_id, CAST(date_trunc('week', f.first_ts) AS DATE) AS cohort_week,
         MAX(CASE WHEN e.ts >= f.first_ts + INTERVAL 7 DAY
                   AND e.ts < f.first_ts + INTERVAL 14 DAY
              THEN 1 ELSE 0 END) AS retained
  FROM f JOIN events e ON e.user_id = f.user_id
  GROUP BY f.user_id, CAST(date_trunc('week', f.first_ts) AS DATE)
)
SELECT cohort_week,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(retained) AS BIGINT) AS n_retained,
       CAST(SUM(retained) * 1000000 // COUNT(*) AS BIGINT) AS retained_ppm
FROM r GROUP BY cohort_week
"""


@_register(
    "first_week_retention",
    _RETENTION_ORACLE,
    doc="Classic week-1 cohort retention: users grouped by the week of "
    "their first event; retained = any activity in days [7, 14). The "
    "first-touch relation joins back to events on user_id (both sides "
    "hash-partition on the key Spark already grouped by, so the "
    "exchange is reused); the ratio is exact integer ppm.",
)
def first_week_retention(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    f = ev.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    j = ev.join(f, "user_id")
    in_week2 = (
        (F.col("ts") >= F.col("first_ts") + F.expr("INTERVAL 7 DAY"))
        & (F.col("ts") < F.col("first_ts") + F.expr("INTERVAL 14 DAY"))
    )
    r = j.groupBy(
        "user_id", F.date_trunc("week", F.col("first_ts")).cast("date").alias("cohort_week")
    ).agg(F.max(F.when(in_week2, 1).otherwise(0)).alias("retained"))
    return r.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("retained").alias("n_retained"),
        F.expr("sum(retained) * 1000000 div count(1)").alias("retained_ppm"),
    )


_COOC_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, event_type FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM d a JOIN d b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY a.event_type, b.event_type
"""


@_register(
    "events_type_cooccurrence",
    _COOC_ORACLE,
    doc="Event-type co-occurrence: how many users perform both types, "
    "for every unordered type pair — the adjacency matrix behind "
    "next-action models. The distinct (user, type) relation is tiny "
    "relative to events (bounded by users × type cardinality), and "
    "the self-join keys on user_id, reusing the distinct's exchange.",
)
def events_type_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = ev.select("user_id", "event_type").distinct()
    a = d.select("user_id", F.col("event_type").alias("type_a"))
    b = d.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(b, ["user_id"])
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


_STICKINESS_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), expanded AS (
  SELECT du.day + CAST(o.i AS INTEGER) AS w_day, du.user_id
  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) o
), wau AS (
  SELECT w_day AS day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM expanded GROUP BY w_day
), dau AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY day
)
SELECT dau.day, dau.dau, wau.wau,
       CAST(dau.dau * 1000000 // wau.wau AS BIGINT) AS stickiness_ppm
FROM dau JOIN wau ON dau.day = wau.day
"""


@_register(
    "dau_wau_stickiness",
    _STICKINESS_ORACLE,
    doc="DAU/WAU stickiness per day via the explode-offsets rewrite: "
    "each (day, user) activity row is replicated to the 7 trailing "
    "windows it belongs to, turning 'distinct users over a 7-day "
    "RANGE' — a window no engine can evaluate distinctly, and a range "
    "self-join that degenerates to a nested loop — into a plain "
    "hash-partitioned COUNT(DISTINCT) per day. Cost is a bounded 7× "
    "replication of the (day, user) relation, not of raw events; only "
    "days with activity are emitted (matching the oracle).",
)
def dau_wau_stickiness(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    du = ev.select(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).distinct()
    expanded = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("i")).alias("w_day"), "user_id")
    wau = expanded.groupBy(F.col("w_day").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "day").select(
        "day", "dau", "wau", F.expr("dau * 1000000 div wau").alias("stickiness_ppm")
    )


# ---------------------------------------------------------------------------
# 3. warehouse reporting
# ---------------------------------------------------------------------------

_TOP3_ORACLE = """
WITH rev AS (
  SELECT n.n_name, c.c_custkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY n.n_name, c.c_custkey
), ranked AS (
  SELECT n_name, c_custkey, revenue,
         ROW_NUMBER() OVER (PARTITION BY n_name
                            ORDER BY revenue DESC, c_custkey) AS rk
  FROM rev
)
SELECT n_name, CAST(rk AS BIGINT) AS rk, CAST(c_custkey AS BIGINT) AS c_custkey,
       revenue
FROM ranked WHERE rk <= 3
"""


@_register(
    "nation_top3_customers",
    _TOP3_ORACLE,
    doc="Top-3 customers by lifetime revenue per nation: star join with "
    "broadcast dims (customer, nation), exact DECIMAL revenue, then a "
    "rank window over (revenue DESC, custkey) — ties broken "
    "deterministically on the key, per the contract. The rank filter "
    "k=3 prunes before anything else reads the result.",
)
def nation_top3_customers(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    rev = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", "c_custkey")
        .agg(dec_sum(F.col("o_totalprice")).alias("revenue"))
    )
    w = Window.partitionBy("n_name").orderBy(F.col("revenue").desc(), "c_custkey")
    return (
        rev.select(
            "n_name",
            F.row_number().over(w).cast("long").alias("rk"),
            "c_custkey",
            "revenue",
        ).where(F.col("rk") <= 3)
    )


_LPO_ORACLE = """
WITH c AS (
  SELECT o.o_orderkey, CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_lines
  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
  GROUP BY o.o_orderkey
)
SELECT n_lines,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(MIN(o_orderkey) AS BIGINT) AS first_orderkey
FROM c GROUP BY n_lines
"""


@_register(
    "lines_per_order_hist",
    _LPO_ORACLE,
    doc="Order-width histogram (lineitems per order, INCLUDING zero-line "
    "orders via the left join — the rows an inner-join histogram "
    "silently drops): the fan-out statistic that sizes every "
    "order-grain shuffle. COUNT(l_orderkey) counts only matched "
    "lines, exactly as in the oracle.",
)
def lines_per_order_hist(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    c = (
        orders.join(li, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_orderkey").alias("n_lines"))
    )
    return c.groupBy("n_lines").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("first_orderkey"),
    )


_DISCOUNT_ORACLE = """
SELECT CAST(ROUND(l_discount * 100) AS BIGINT) AS discount_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS gross_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS net_revenue,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE)
         AS discount_given
FROM lineitem GROUP BY 1
"""


@_register(
    "discount_band_revenue",
    _DISCOUNT_ORACLE,
    doc="Discount-band economics: gross/net revenue and discount spend "
    "per integer discount percent. The band key rounds the double "
    "discount to its stored percent (no floor-of-.9999 hazards); all "
    "money flows through exact DECIMAL products and sums, emitted as "
    "one final double each. Single scan, tiny aggregate.",
)
def discount_band_revenue(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    band = F.round(F.col("l_discount") * 100).cast("long")
    price = dec(F.col("l_extendedprice"))
    disc = dec(F.col("l_discount"))
    return li.groupBy(band.alias("discount_pct")).agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(price).cast("double").alias("gross_revenue"),
        F.sum(price * (F.lit(1) - disc)).cast("double").alias("net_revenue"),
        F.sum(price * disc).cast("double").alias("discount_given"),
    )


_SEGMIX_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment, o.o_orderpriority
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), seg AS (
  SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS seg_total
  FROM j GROUP BY c_mktsegment
)
SELECT j.c_mktsegment, j.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(*) * 1000000 // MAX(seg.seg_total) AS BIGINT) AS share_ppm
FROM j JOIN seg ON j.c_mktsegment = seg.c_mktsegment
GROUP BY j.c_mktsegment, j.o_orderpriority
"""


@_register(
    "segment_priority_mix",
    _SEGMIX_ORACLE,
    doc="Order-priority mix per market segment with exact integer ppm "
    "shares: fact⋈broadcast-dim join, one aggregate at the "
    "(segment, priority) grain, segment totals joined back as a "
    "broadcast — the composition report that would read wrong under "
    "any floating-point share arithmetic.",
)
def segment_priority_mix(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    j = orders.join(
        F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey")
    ).select("c_mktsegment", "o_orderpriority")
    seg = j.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("seg_total"))
    return (
        j.join(F.broadcast(seg), "c_mktsegment")
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("count(1) * 1000000 div max(seg_total)").alias("share_ppm"),
        )
    )


_BRAND_ORACLE = """
SELECT p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(COUNT(DISTINCT p_size) AS BIGINT) AS n_sizes,
       CAST(MAX(p_size) AS BIGINT) AS max_size,
       CAST(SUM(CAST(p_retailprice AS DECIMAL(18,4))) AS DOUBLE)
         / COUNT(*) AS avg_price
FROM part GROUP BY p_brand
"""


@_register(
    "part_brand_size_stats",
    _BRAND_ORACLE,
    doc="Catalog morphology per brand: part count, size diversity, and "
    "exact average retail price (DECIMAL sum divided once). Scan + "
    "one aggregate with a distinct-count — the dimension-table health "
    "check run before trusting any brand-grain rollup.",
)
def part_brand_size_stats(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n_parts"),
        F.countDistinct("p_size").alias("n_sizes"),
        F.max("p_size").cast("long").alias("max_size"),
        (F.sum(dec(F.col("p_retailprice"))).cast("double") / F.count(F.lit(1))).alias(
            "avg_price"
        ),
    )


_NATION_SHARE_ORACLE = """
WITH nb AS (
  SELECT n.n_name,
         CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         SUM(CAST(s.s_acctbal AS DECIMAL(18,4))) AS bal
  FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name
), tot AS (
  SELECT SUM(bal) AS total_bal FROM nb
)
SELECT n_name, n_suppliers,
       CAST(bal AS DOUBLE) AS balance,
       CAST(bal AS DOUBLE) / CAST(total_bal AS DOUBLE) AS share
FROM nb CROSS JOIN tot
"""


@_register(
    "supplier_nation_balance_share",
    _NATION_SHARE_ORACLE,
    doc="Supplier account-balance share per nation: exact DECIMAL "
    "balances per nation, the corpus total joined as a broadcast "
    "1-row relation (the stats-total crossJoin pattern — never a "
    "driver-side scalar), shares as one double division of two exact "
    "values.",
)
def supplier_nation_balance_share(spark: SparkSession, sf: str) -> DataFrame:
    sup = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    nb = (
        sup.join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(dec(F.col("s_acctbal"))).alias("bal"),
        )
    )
    tot = nb.agg(F.sum("bal").alias("total_bal"))
    return nb.crossJoin(F.broadcast(tot)).select(
        "n_name",
        "n_suppliers",
        F.col("bal").cast("double").alias("balance"),
        (F.col("bal").cast("double") / F.col("total_bal").cast("double")).alias(
            "share"
        ),
    )


_MOMENTUM_ORACLE = """
WITH m AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
         SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
  FROM orders GROUP BY 1
)
SELECT month,
       CAST(rev_dec AS DOUBLE) AS revenue,
       CAST(rev_dec - LAG(rev_dec) OVER w AS DOUBLE) AS mom_delta,
       CAST(SUM(rev_dec) OVER (ORDER BY month
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 3 AS ma3
FROM m WINDOW w AS (ORDER BY month)
"""


@_register(
    "monthly_revenue_momentum",
    _MOMENTUM_ORACLE,
    doc="Monthly revenue with month-over-month delta and a trailing "
    "3-month moving average: the window math runs ON THE EXACT DECIMAL "
    "sums (lag-difference and 3-row sum stay exact; each emits one "
    "double) — running it on doubles would make every delta "
    "order-dependent. The single global window is over months "
    "(bounded rows), not orders.",
)
def monthly_revenue_momentum(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    m = orders.groupBy(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("month")
    ).agg(F.sum(dec(F.col("o_totalprice"))).alias("rev_dec"))
    w = Window.orderBy("month")
    ma_w = w.rowsBetween(-2, 0)
    return m.select(
        "month",
        F.col("rev_dec").cast("double").alias("revenue"),
        (F.col("rev_dec") - F.lag("rev_dec").over(w)).cast("double").alias("mom_delta"),
        (F.sum("rev_dec").over(ma_w).cast("double") / F.lit(3)).alias("ma3"),
    )


_RETURNS_ORACLE = """
SELECT p.p_brand,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS returned_ppm,
       CAST(SUM(CASE WHEN l.l_returnflag = 'R'
                 THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                 ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
         AS returned_value
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY p.p_brand
"""


@_register(
    "returned_share_by_brand",
    _RETURNS_ORACLE,
    doc="Return-rate and value-at-return per brand: fact⋈broadcast-part "
    "join, conditional integer counts with exact ppm, conditional "
    "DECIMAL value sum — the quality report that decides recalls. "
    "One aggregate at brand grain.",
)
def returned_share_by_brand(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    ret = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    ret_val = F.when(
        F.col("l_returnflag") == "R", dec(F.col("l_extendedprice"))
    ).otherwise(F.lit(0).cast("decimal(18,4)"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(ret).alias("n_returned"),
            F.expr(
                "sum(case when l_returnflag = 'R' then 1 else 0 end)"
                " * 1000000 div count(1)"
            ).alias("returned_ppm"),
            F.sum(ret_val).cast("double").alias("returned_value"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round7 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# behavioral analytics II
# ---------------------------------------------------------------------------

_PEAK_ORACLE = """
WITH c AS (
  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         CAST(hour(ts) AS BIGINT) AS hr, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                               ORDER BY n DESC, dow, hr) AS rk
  FROM c
)
SELECT event_type, dow AS peak_dow, hr AS peak_hr, n AS peak_events
FROM r WHERE rk = 1
"""


@_register(
    "events_hour_of_week_peak",
    _PEAK_ORACLE,
    doc="Peak hour-of-week per event type (ties to the earliest "
    "(dow, hr) slot): the heatmap's argmax face — the rank window "
    "sorts the 168-bounded bucket relation, never raw events.",
)
def events_hour_of_week_peak(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    c = ev.groupBy(
        "event_type",
        (F.weekday("ts") + 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "dow", "hr")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.col("dow").alias("peak_dow"),
            F.col("hr").alias("peak_hr"),
            F.col("n").alias("peak_events"),
        )
    )


_AUTOCORR_ORACLE = """
WITH s AS (
  SELECT event_type,
         CAST(floor(value * 1000) AS BIGINT) AS v,
         LAG(CAST(floor(value * 1000) AS BIGINT)) OVER (
           PARTITION BY event_type ORDER BY ts, event_id) AS pv
  FROM events
), p AS (
  SELECT event_type, v, pv FROM s WHERE pv IS NOT NULL
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(v AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(pv AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(v AS DECIMAL(19,0)) * pv) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(v AS DECIMAL(19,0)) * v) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(pv AS DECIMAL(19,0)) * pv) AS DOUBLE) AS syy
  FROM p GROUP BY event_type
)
SELECT event_type, n,
       CAST(floor((n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
            * 1000000.0) AS BIGINT) AS autocorr_micro
FROM m
"""


@_register(
    "events_lag1_value_autocorr",
    _AUTOCORR_ORACLE,
    doc="Lag-1 autocorrelation of event values per type (time-ordered "
    "with the event_id tie-break): the memory/burstiness statistic. "
    "Values quantize to exact milli integers, the lag pairs feed the "
    "corr_regress sufficient-statistics recipe (five DECIMAL moment "
    "sums, one identical double combine, floored micro units) — "
    "reproducible on any partitioning; the window and aggregate share "
    "the event_type exchange.",
)
def events_lag1_value_autocorr(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    v = F.floor(F.col("value") * 1000).cast("long")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    s = ev.select("event_type", "ts", "event_id", v.alias("v")).withColumn(
        "pv", F.lag("v").over(w)
    )
    p = s.where(F.col("pv").isNotNull()).select("event_type", "v", "pv")
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = p.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("v"))).cast("double").alias("sx"),
        F.sum(d(F.col("pv"))).cast("double").alias("sy"),
        F.sum(d(F.col("v")) * F.col("pv")).cast("double").alias("sxy"),
        F.sum(d(F.col("v")) * F.col("v")).cast("double").alias("sxx"),
        F.sum(d(F.col("pv")) * F.col("pv")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "event_type", "n",
        F.floor(corr * 1000000.0).cast("long").alias("autocorr_micro"),
    )


_CV_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
           PARTITION BY user_id ORDER BY ts, event_id)) AS gap
  FROM events
), p AS (
  SELECT user_id, CAST(gap AS BIGINT) AS gap FROM g WHERE gap IS NOT NULL
), m AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(gap AS DECIMAL(19,0))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(gap AS DECIMAL(19,0)) * gap) AS DOUBLE) AS s2
  FROM p GROUP BY user_id HAVING COUNT(*) >= 3
)
SELECT user_id, n,
       CAST(floor(s1 / n) AS BIGINT) AS mean_gap_us,
       CAST(floor(sqrt((n * s2 - s1 * s1)) / s1 * 1000000.0) AS BIGINT)
         AS cv_micro
FROM m
"""


@_register(
    "user_inter_event_cv",
    _CV_ORACLE,
    doc="Coefficient of variation of inter-event gaps per user (≥3 gaps): "
    "CV ≈ 1 is Poisson-random arrival, CV >> 1 is bursty — the "
    "per-entity regularity screen. Gaps are exact integer "
    "microseconds; mean/σ come from two DECIMAL moment sums combined "
    "in one identical double expression (σ/μ computed as "
    "√(n·s2−s1²)/s1, avoiding a second divide), floored to micro "
    "units. Window and aggregate share the user_id exchange.",
)
def user_inter_event_cv(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = ev.select("user_id", (us - F.lag(us).over(w)).alias("gap"))
    p = g.where(F.col("gap").isNotNull())
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(d(F.col("gap"))).cast("double").alias("s1"),
            F.sum(d(F.col("gap")) * F.col("gap")).cast("double").alias("s2"),
        )
        .where(F.col("n") >= 3)
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    return m.select(
        "user_id", "n",
        F.floor(s1 / n).cast("long").alias("mean_gap_us"),
        F.floor(F.sqrt(n * s2 - s1 * s1) / s1 * 1000000.0)
        .cast("long")
        .alias("cv_micro"),
    )


_TOPSHARE_ORACLE = """
WITH uv AS (
  SELECT CAST(ts AS DATE) AS day, user_id,
         CAST(SUM(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT) AS v
  FROM events GROUP BY 1, 2
), r AS (
  SELECT day, user_id, v,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY v DESC, user_id) AS rk,
         CAST(SUM(v) OVER (PARTITION BY day) AS BIGINT) AS day_total
  FROM uv
)
SELECT day, user_id AS top_user, v AS top_value_milli, day_total,
       CAST(v * 1000000 // day_total AS BIGINT) AS share_ppm
FROM r WHERE rk = 1 AND day_total > 0
"""


@_register(
    "events_daily_top_user_share",
    _TOPSHARE_ORACLE,
    doc="Whale detection: per day, the top user by exact milli-value and "
    "their integer-ppm share of the day's total. Rank and total "
    "windows both partition on day OVER the (day, user) pre-aggregate "
    "(bounded by actives, never raw events), reusing one exchange.",
)
def events_daily_top_user_share(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    uv = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "user_id"
    ).agg(F.sum(F.floor(F.col("value") * 1000).cast("long")).alias("v"))
    w = Window.partitionBy("day")
    r = uv.select(
        "day", "user_id", "v",
        F.row_number().over(w.orderBy(F.col("v").desc(), "user_id")).alias("rk"),
        F.sum("v").over(w).alias("day_total"),
    )
    return (
        r.where((F.col("rk") == 1) & (F.col("day_total") > 0))
        .select(
            "day",
            F.col("user_id").alias("top_user"),
            F.col("v").alias("top_value_milli"),
            "day_total",
            F.expr("v * 1000000 div day_total").alias("share_ppm"),
        )
    )


_WEEKEND_ORACLE = """
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS BIGINT)
         AS weekend_events,
       CAST(SUM(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS weekend_ppm,
       CAST(SUM(CASE WHEN isodow(ts) >= 6
                 THEN CAST(floor(value * 1000) AS BIGINT) ELSE 0 END) AS BIGINT)
         AS weekend_value_milli
FROM events GROUP BY event_type
"""


@_register(
    "events_weekend_share",
    _WEEKEND_ORACLE,
    doc="Weekend share of activity and value per event type (ISO dow ≥ 6), "
    "exact integer ppm and milli-value — the seasonality split feeding "
    "capacity planning. One conditional aggregate over the scan.",
)
def events_weekend_share(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    is_we = (F.weekday("ts") + 1) >= 6
    vmilli = F.floor(F.col("value") * 1000).cast("long")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(is_we, 1).otherwise(0)).alias("weekend_events"),
        F.expr(
            "sum(case when weekday(ts) + 1 >= 6 then 1 else 0 end)"
            " * 1000000 div count(1)"
        ).alias("weekend_ppm"),
        F.sum(F.when(is_we, vmilli).otherwise(0)).alias("weekend_value_milli"),
    )


# ---------------------------------------------------------------------------
# warehouse reporting II
# ---------------------------------------------------------------------------

_BAND_MATRIX_ORACLE = """
SELECT LEAST(CAST(floor(o_totalprice / 50000) AS BIGINT), 8) AS value_band,
       o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS band_value
FROM orders GROUP BY 1, 2
"""


@_register(
    "order_value_band_matrix",
    _BAND_MATRIX_ORACLE,
    doc="Order-value band × priority mix (50k bands capped at 8+): both "
    "engines compute the identical double division before the floor, "
    "so banding is reproducible; values aggregate as exact DECIMAL. "
    "One scan, bounded-key aggregate.",
)
def order_value_band_matrix(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    band = F.least(
        F.floor(F.col("o_totalprice") / 50000).cast("long"), F.lit(8).cast("long")
    )
    return orders.groupBy(
        band.alias("value_band"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("band_value"),
    )


_REPEAT_ORACLE = """
WITH c AS (
  SELECT c.c_mktsegment, o.o_custkey, CAST(COUNT(*) AS BIGINT) AS n
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_mktsegment, o.o_custkey
)
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_repeat,
       CAST(SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS repeat_ppm
FROM c GROUP BY c_mktsegment
"""


@_register(
    "customer_repeat_rate",
    _REPEAT_ORACLE,
    doc="Repeat-buyer rate per market segment in exact integer ppm: "
    "orders ⋈ broadcast customer, a per-customer count, then a "
    "segment rollup of the ≥2 flag — two chained aggregates whose "
    "second input is bounded by customers.",
)
def customer_repeat_rate(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    c = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", "o_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_buyers"),
        F.sum(F.when(F.col("n") >= 2, 1).otherwise(0)).alias("n_repeat"),
        F.expr(
            "sum(case when n >= 2 then 1 else 0 end) * 1000000 div count(1)"
        ).alias("repeat_ppm"),
    )


_PNAME_ORACLE = """
WITH w AS (
  SELECT unnest(string_split(p_name, ' ')) AS token FROM part
)
SELECT token, CAST(COUNT(*) AS BIGINT) AS n
FROM w GROUP BY token HAVING COUNT(*) >= 5
"""


@_register(
    "part_name_token_freq",
    _PNAME_ORACLE,
    doc="Part-name vocabulary above support 5 — the dimension-text "
    "profile behind fuzzy-match blocking keys (fuzzy_pairs_levenshtein "
    "blocks on exactly these tokens). Explode + count, HAVING instead "
    "of a limit so no ordering is needed.",
)
def part_name_token_freq(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    w = part.select(F.explode(F.split(F.col("p_name"), " ")).alias("token"))
    return (
        w.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= 5)
    )


_PRESENCE_ORACLE = """
WITH s AS (
  SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
), c AS (
  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT n.n_name,
       COALESCE(s.n_suppliers, 0) AS n_suppliers,
       COALESCE(c.n_customers, 0) AS n_customers,
       CAST(CASE WHEN s.n_suppliers IS NOT NULL AND c.n_customers IS NOT NULL
            THEN 1 ELSE 0 END AS BIGINT) AS both_sides
FROM nation n
LEFT JOIN s ON n.n_nationkey = s.nk
LEFT JOIN c ON n.n_nationkey = c.nk
"""


@_register(
    "nation_actor_presence",
    _PRESENCE_ORACLE,
    doc="Marketplace-liquidity readout per nation: supplier and customer "
    "counts side by side with a both-sides flag, nations with neither "
    "kept at zero (LEFT joins off the dimension — an inner join would "
    "silently drop them). Aggregates run before the joins, so only "
    "nation-grain rows join.",
)
def nation_actor_presence(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, sf, "nation")
    sup = load_table(spark, sf, "supplier")
    cust = load_table(spark, sf, "customer")
    s = sup.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("ns")
    )
    c = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("nc")
    )
    return (
        nation.join(F.broadcast(s), nation["n_nationkey"] == s["nk"], "left")
        .join(F.broadcast(c), nation["n_nationkey"] == c["nk"], "left")
        .select(
            "n_name",
            F.coalesce(F.col("ns"), F.lit(0)).alias("n_suppliers"),
            F.coalesce(F.col("nc"), F.lit(0)).alias("n_customers"),
            F.when(
                F.col("ns").isNotNull() & F.col("nc").isNotNull(), 1
            ).otherwise(0).cast("long").alias("both_sides"),
        )
    )


_QTREND_ORACLE = """
WITH q AS (
  SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter,
         o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1, 2
)
SELECT quarter, o_orderpriority, n_orders,
       n_orders - LAG(n_orders) OVER (PARTITION BY o_orderpriority
                                      ORDER BY quarter) AS qoq_delta
FROM q
"""


@_register(
    "orders_quarterly_priority_trend",
    _QTREND_ORACLE,
    doc="Quarterly order counts per priority with quarter-over-quarter "
    "integer deltas: lag over the quarter-grain aggregate (bounded "
    "rows), partitioned per priority; quarter truncation cast to DATE "
    "on both sides (the Spark date_trunc TZ hazard).",
)
def orders_quarterly_priority_trend(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    q = orders.groupBy(
        F.date_trunc("quarter", F.col("o_orderdate")).cast("date").alias("quarter"),
        "o_orderpriority",
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    w = Window.partitionBy("o_orderpriority").orderBy("quarter")
    return q.select(
        "quarter", "o_orderpriority", "n_orders",
        (F.col("n_orders") - F.lag("n_orders").over(w)).alias("qoq_delta"),
    )


_TAXCORR_ORACLE = """
WITH v AS (
  SELECT l_linestatus,
         CAST(floor(l_discount * 10000) AS BIGINT) AS x,
         CAST(floor(l_tax * 10000) AS BIGINT) AS y
  FROM lineitem
), m AS (
  SELECT l_linestatus,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS DECIMAL(19,0)) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS DECIMAL(19,0)) * y) AS DOUBLE) AS syy
  FROM v GROUP BY l_linestatus
)
SELECT l_linestatus, n,
       CAST(floor((n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
            * 1000000.0) AS BIGINT) AS corr_micro
FROM m
"""


@_register(
    "discount_tax_corr",
    _TAXCORR_ORACLE,
    doc="Pearson correlation between discount and tax per line status — "
    "the pricing-policy dependence check, same exact "
    "sufficient-statistics recipe as corr_regress (basis-point "
    "quantization, DECIMAL moment sums, one identical double combine, "
    "floored micro units).",
)
def discount_tax_corr(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    x = F.floor(F.col("l_discount") * 10000).cast("long")
    y = F.floor(F.col("l_tax") * 10000).cast("long")
    v = li.select("l_linestatus", x.alias("x"), y.alias("y"))
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = v.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("x"))).cast("double").alias("sx"),
        F.sum(d(F.col("y"))).cast("double").alias("sy"),
        F.sum(d(F.col("x")) * F.col("y")).cast("double").alias("sxy"),
        F.sum(d(F.col("x")) * F.col("x")).cast("double").alias("sxx"),
        F.sum(d(F.col("y")) * F.col("y")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "l_linestatus", "n",
        F.floor(corr * 1000000.0).cast("long").alias("corr_micro"),
    )


_BALBAND_ORACLE = """
WITH b AS (
  SELECT c_custkey,
         LEAST(GREATEST(CAST(floor(c_acctbal / 2000) AS BIGINT), -1), 5)
           AS bal_band
  FROM customer
), oc AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n FROM orders GROUP BY o_custkey
)
SELECT b.bal_band,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(COALESCE(oc.n, 0)) AS BIGINT) AS n_orders,
       CAST(SUM(COALESCE(oc.n, 0)) * 1000000 // COUNT(*) AS BIGINT)
         AS orders_per_customer_ppm
FROM b LEFT JOIN oc ON b.c_custkey = oc.o_custkey
GROUP BY b.bal_band
"""


@_register(
    "customer_balance_band_profile",
    _BALBAND_ORACLE,
    doc="Order intensity by account-balance band (2k bands clamped to "
    "[-1, 5]): customers with zero orders stay in their band via the "
    "LEFT join onto the per-customer order counts; the intensity is "
    "exact integer ppm (orders per customer × 1e6).",
)
def customer_balance_band_profile(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    band = F.least(
        F.greatest(F.floor(F.col("c_acctbal") / 2000).cast("long"), F.lit(-1)),
        F.lit(5).cast("long"),
    )
    b = cust.select("c_custkey", band.alias("bal_band"))
    oc = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    return (
        b.join(oc, b["c_custkey"] == oc["o_custkey"], "left")
        .groupBy("bal_band")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.coalesce(F.col("n"), F.lit(0))).alias("n_orders"),
            F.expr(
                "sum(coalesce(n, 0)) * 1000000 div count(1)"
            ).alias("orders_per_customer_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round8 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

_LIFESPAN_ORACLE = """
SELECT user_id,
       CAST(MIN(CAST(ts AS DATE)) AS DATE) AS first_day,
       CAST(MAX(CAST(ts AS DATE)) AS DATE) AS last_day,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       CAST(date_diff('day', MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)))
            + 1 AS BIGINT) AS span_days
FROM events GROUP BY user_id
"""


@_register(
    "events_user_lifespan",
    _LIFESPAN_ORACLE,
    doc="Per-user lifespan: first/last active day, distinct active days, "
    "calendar span — the cohort-health base table (active_days / "
    "span_days is the engagement density downstream dashboards read). "
    "One user-keyed aggregate; DATE cast on both engines (the "
    "retention-cohort TZ discipline).",
)
def events_user_lifespan(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = F.col("ts").cast("date")
    return ev.groupBy("user_id").agg(
        F.min(d).alias("first_day"),
        F.max(d).alias("last_day"),
        F.countDistinct(d).alias("active_days"),
        (F.datediff(F.max(d), F.min(d)) + 1).cast("bigint").alias("span_days"),
    )


_NATION_RATIO_ORACLE = """
WITH s AS (
  SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers
  FROM supplier GROUP BY s_nationkey
), c AS (
  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers
  FROM customer GROUP BY c_nationkey
)
SELECT n.n_name, COALESCE(s.n_suppliers, 0) AS n_suppliers,
       COALESCE(c.n_customers, 0) AS n_customers,
       CASE WHEN COALESCE(s.n_suppliers, 0) > 0
            THEN COALESCE(c.n_customers, 0) * 1000000 // s.n_suppliers
            ELSE -1 END AS cust_per_supp_ppm
FROM nation n
LEFT JOIN s ON n.n_nationkey = s.nk
LEFT JOIN c ON n.n_nationkey = c.nk
"""


@_register(
    "nation_supplier_customer_ratio",
    _NATION_RATIO_ORACLE,
    doc="Supply/demand balance per nation: supplier and customer counts "
    "with their ratio (ppm; -1 sentinel for supplierless nations — "
    "LEFT joins keep zero-activity nations, the r7 discipline). Two "
    "pre-aggregates broadcast-join the 25-row dim.",
)
def nation_supplier_customer_ratio(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, sf, "nation")
    sup = (
        load_table(spark, sf, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_suppliers"))
    )
    cust = (
        load_table(spark, sf, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    j = (
        nation.join(sup, nation.n_nationkey == sup.nk, "left")
        .join(cust, nation.n_nationkey == cust.nk, "left")
        .select(
            "n_name",
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
        )
    )
    return j.withColumn(
        "cust_per_supp_ppm",
        F.when(
            F.col("n_suppliers") > 0,
            F.expr("n_customers * 1000000 div n_suppliers"),
        ).otherwise(F.lit(-1).cast("bigint")),
    )


_IQR_ORACLE = """
WITH r AS (
  SELECT p_type, p_retailprice,
         ROW_NUMBER() OVER (PARTITION BY p_type
                            ORDER BY p_retailprice, p_partkey) AS rn,
         COUNT(*) OVER (PARTITION BY p_type) AS n
  FROM part
)
SELECT p_type, CAST(MAX(n) AS BIGINT) AS n_parts,
       MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN p_retailprice END) AS q1,
       MAX(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN p_retailprice END) AS q3,
       MAX(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN p_retailprice END)
     - MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN p_retailprice END) AS iqr
FROM r GROUP BY p_type
"""


@_register(
    "part_type_price_iqr",
    _IQR_ORACLE,
    doc="Exact interquartile price range per part type: Q1/Q3 are the "
    "VALUES at positions floor((n-1)/4)+1 and floor(3(n-1)/4)+1 of the "
    "(price, partkey) total order — picked, not interpolated, so two "
    "engines agree bitwise (the median_exact discipline, per-group). "
    "One partitioned window; the IQR subtraction of two exact doubles "
    "is deterministic.",
)
def part_type_price_iqr(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    w = Window.partitionBy("p_type").orderBy("p_retailprice", "p_partkey")
    wn = Window.partitionBy("p_type")
    r = part.select(
        "p_type",
        "p_retailprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q1 = F.max(
        F.when(F.col("rn") == F.expr("(n - 1) div 4 + 1"), F.col("p_retailprice"))
    )
    q3 = F.max(
        F.when(
            F.col("rn") == F.expr("3 * (n - 1) div 4 + 1"), F.col("p_retailprice")
        )
    )
    return r.groupBy("p_type").agg(
        F.max("n").alias("n_parts"),
        q1.alias("q1"),
        q3.alias("q3"),
        (q3 - q1).alias("iqr"),
    )


_STATUS_PRIORITY_ORACLE = """
WITH m AS (
  SELECT o_orderstatus, o_orderpriority,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue
  FROM orders GROUP BY o_orderstatus, o_orderpriority
), t AS (
  SELECT o_orderstatus, CAST(SUM(n_orders) AS BIGINT) AS status_total FROM m
  GROUP BY o_orderstatus
)
SELECT m.o_orderstatus, m.o_orderpriority, m.n_orders, m.revenue,
       m.n_orders * 1000000 // t.status_total AS share_ppm
FROM m JOIN t ON m.o_orderstatus = t.o_orderstatus
"""


@_register(
    "orders_status_priority_matrix",
    _STATUS_PRIORITY_ORACLE,
    doc="Order status × priority mix: counts, exact-DECIMAL revenue and "
    "each priority's integer ppm share within its status — the "
    "backlog-composition report (are urgent orders piling up in 'O'?). "
    "Two chained aggregates on the same key prefix; the share join is "
    "a broadcast of |statuses| rows.",
)
def orders_status_priority_matrix(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    m = orders.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("o_totalprice")).alias("revenue"),
    )
    t = m.groupBy("o_orderstatus").agg(F.sum("n_orders").alias("status_total"))
    return (
        m.join(F.broadcast(t), "o_orderstatus")
        .select(
            "o_orderstatus",
            "o_orderpriority",
            "n_orders",
            "revenue",
            F.expr("n_orders * 1000000 div status_total").alias("share_ppm"),
        )
    )


_TOP_DECILE_ORACLE = """
WITH spend AS (
  SELECT c.c_nationkey AS nk, c.c_custkey,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
           AS units
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_nationkey, c.c_custkey
), d AS (
  SELECT nk, units,
         NTILE(10) OVER (PARTITION BY nk ORDER BY units DESC, c_custkey)
           AS decile
  FROM spend
)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_buyers,
       CAST(SUM(units) AS DOUBLE) / 10000 AS total_spend,
       CAST(SUM(CASE WHEN decile = 1 THEN units ELSE 0 END) AS DOUBLE) / 10000
         AS top_decile_spend,
       CAST(SUM(CASE WHEN decile = 1 THEN units ELSE 0 END) * 1000000
            // SUM(units) AS BIGINT) AS concentration_ppm
FROM d JOIN nation n ON d.nk = n.n_nationkey
GROUP BY n.n_name
"""


@_register(
    "customer_top_decile_concentration",
    _TOP_DECILE_ORACLE,
    doc="Revenue concentration per nation: the ppm of order value "
    "contributed by the top spending decile of that nation's buyers — "
    "the whale-dependence metric. Per-customer spend is summed as "
    "exact DECIMAL and converted ONCE to integer 1/10000-currency "
    "units, so the decile cut (NTILE over units DESC with custkey "
    "tie-break), the ppm share (integer product div sum — BIGINT "
    "headroom to ~sf100; re-cast the product DECIMAL(38,0) past that, "
    "the label_pair_centroid_dist precedent) and the emitted doubles "
    "(exact integer / 10000, identical IEEE op both engines) are all "
    "engine-exact. Aggregate → window within nation → rollup; nothing "
    "wider than the customer key.",
)
def customer_top_decile_concentration(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    spend = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"), "c_custkey")
        .agg(
            (F.sum(dec(F.col("o_totalprice"))) * 10000)
            .cast("bigint")
            .alias("units")
        )
    )
    d = spend.withColumn(
        "decile",
        F.ntile(10).over(
            Window.partitionBy("nk").orderBy(F.col("units").desc(), "c_custkey")
        ),
    )
    nation = load_table(spark, sf, "nation")
    top_units = F.sum(F.when(F.col("decile") == 1, F.col("units")).otherwise(0))
    return (
        d.join(F.broadcast(nation), d.nk == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_buyers"),
            (F.sum("units").cast("double") / 10000).alias("total_spend"),
            (top_units.cast("double") / 10000).alias("top_decile_spend"),
            F.expr(
                "sum(CASE WHEN decile = 1 THEN units ELSE 0 END) * 1000000"
                " div sum(units)"
            ).alias("concentration_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round8b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# behavioral analytics
# ---------------------------------------------------------------------------

_NEW_RETURNING_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), f AS (
  SELECT user_id, MIN(day) AS first_day FROM d GROUP BY user_id
)
SELECT d.day,
       CAST(SUM(CASE WHEN d.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(SUM(CASE WHEN d.day > f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning
FROM d JOIN f ON d.user_id = f.user_id
GROUP BY d.day
"""


@_register(
    "events_daily_new_vs_returning",
    _NEW_RETURNING_ORACLE,
    doc="Daily split of active users into first-ever-seen vs returning — "
    "the growth-vs-retention decomposition every DAU chart hides. The "
    "(user, day) relation is distinct-reduced FIRST; first-seen day is "
    "a user-keyed MIN merged back on the user key (same exchange "
    "layout, no second shuffle family).",
)
def events_daily_new_vs_returning(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = ev.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    f = d.groupBy("user_id").agg(F.min("day").alias("first_day"))
    j = d.join(f, "user_id")
    return j.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("day") > F.col("first_day"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_returning"),
    )


_PEAK_HOUR_ORACLE = """
WITH h AS (
  SELECT CAST(ts AS DATE) AS day, EXTRACT(hour FROM ts) AS hr,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
), r AS (
  SELECT day, cnt,
         ROW_NUMBER() OVER (PARTITION BY day ORDER BY cnt, hr) AS rn,
         COUNT(*) OVER (PARTITION BY day) AS n
  FROM h
)
SELECT day,
       MAX(cnt) AS peak_cnt,
       MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN cnt END) AS median_cnt,
       CAST(MAX(cnt) * 1000000 //
            MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN cnt END) AS BIGINT)
         AS peak_to_median_ppm
FROM r GROUP BY day
"""


@_register(
    "events_peak_hour_ratio",
    _PEAK_HOUR_ORACLE,
    doc="Per-day peak-to-median hourly load: the capacity-planning "
    "number (how much burstier is the worst hour than a typical one). "
    "The median hourly count is PICKED at position floor((n-1)/2)+1 of "
    "the (count, hour) order over hours present that day — exact on "
    "both engines; ratio is integer ppm.",
)
def events_peak_hour_ratio(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    h = ev.groupBy(
        F.col("ts").cast("date").alias("day"),
        F.hour("ts").alias("hr"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("day").orderBy("cnt", "hr")
    wn = Window.partitionBy("day")
    r = h.select(
        "day",
        "cnt",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = F.max(F.when(F.col("rn") == F.expr("(n - 1) div 2 + 1"), F.col("cnt")))
    return r.groupBy("day").agg(
        F.max("cnt").alias("peak_cnt"),
        med.alias("median_cnt"),
        (F.max("cnt") * 1000000 / med).cast("bigint").alias("peak_to_median_ppm"),
    )


_SESSION_SWEEP_ORACLE = """
WITH o AS (
  SELECT user_id, epoch(ts) AS t,
         lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
), gaps AS (
  SELECT user_id, t - prev AS gap FROM o WHERE prev IS NOT NULL
), u AS (
  SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
), thr AS (
  SELECT unnest([1800, 3600, 7200]) AS threshold_s
)
SELECT CAST(thr.threshold_s AS BIGINT) AS threshold_s,
       CAST(u.n_users + (SELECT COUNT(*) FROM gaps WHERE gap > thr.threshold_s)
            AS BIGINT) AS n_sessions,
       u.n_users,
       CAST((u.n_users + (SELECT COUNT(*) FROM gaps
                          WHERE gap > thr.threshold_s)) * 1000
            // u.n_users AS BIGINT) AS sessions_per_user_milli
FROM thr, u
"""


@_register(
    "events_session_gap_sweep",
    _SESSION_SWEEP_ORACLE,
    doc="Sessionization threshold sweep (30/60/120 min) from ONE scan: "
    "total sessions at gap threshold t is n_users + #(inter-event gaps "
    "> t), so a single LAG window yields the gap relation and each "
    "threshold is a conditional count over it — the sweep a pipeline "
    "runs to pick its session gap without re-sessionizing per "
    "candidate. Ties broken (ts, event_id) in the LAG order.",
)
def events_session_gap_sweep(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ (UTC session): NTZ→TIMESTAMP cast then exact
    # BIGINT micros — thresholds compare in micros so the sweep is pure
    # integer arithmetic (same verdicts as the oracle's epoch-seconds).
    t_us = F.expr("unix_micros(cast(ts as timestamp))")
    o = ev.select(
        "user_id",
        t_us.alias("t"),
        F.lag(t_us).over(w).alias("prev"),
    )
    gaps = o.where(F.col("prev").isNotNull()).select(
        (F.col("t") - F.col("prev")).alias("gap")
    )
    counts = gaps.select(
        *[
            F.sum(F.when(F.col("gap") > t * 1_000_000, 1).otherwise(0))
            .cast("bigint")
            .alias(f"b{t}")
            for t in (1800, 3600, 7200)
        ]
    )
    users = ev.select(
        F.countDistinct("user_id").cast("bigint").alias("n_users")
    )
    base = counts.crossJoin(F.broadcast(users))
    rows = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).cast("bigint").alias("threshold_s"),
                        (F.col(f"b{t}") + F.col("n_users")).alias("n_sessions"),
                        F.col("n_users").alias("n_users"),
                    )
                    for t in (1800, 3600, 7200)
                ]
            )
        ).alias("u")
    ).select("u.threshold_s", "u.n_sessions", "u.n_users")
    return rows.withColumn(
        "sessions_per_user_milli",
        F.expr("n_sessions * 1000 div n_users"),
    )


_CHURN_ORACLE = """
WITH mx AS (
  SELECT MAX(CAST(ts AS DATE)) AS max_day FROM events
), lastd AS (
  SELECT user_id, MAX(CAST(ts AS DATE)) AS last_day FROM events
  GROUP BY user_id
), b AS (
  SELECT date_diff('day', l.last_day, mx.max_day) AS inactive
  FROM lastd l, mx
)
SELECT CAST(CASE WHEN inactive <= 1 THEN 0
            WHEN inactive <= 7 THEN 1
            WHEN inactive <= 30 THEN 2
            ELSE 3 END AS INTEGER) AS churn_band,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM b GROUP BY 1
"""


@_register(
    "events_churn_bands",
    _CHURN_ORACLE,
    doc="Churn-risk snapshot: users banded by days since last activity "
    "relative to the corpus max day (active ≤1d, lapsing ≤7d, dormant "
    "≤30d, churned) — the re-engagement funnel input. The corpus max "
    "day is ONE broadcast scalar row; everything else is a user-keyed "
    "aggregate.",
)
def events_churn_bands(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = F.col("ts").cast("date")
    mx = ev.select(F.max(d).alias("max_day"))
    lastd = ev.groupBy("user_id").agg(F.max(d).alias("last_day"))
    b = lastd.crossJoin(F.broadcast(mx)).select(
        F.datediff("max_day", "last_day").alias("inactive")
    )
    band = (
        F.when(F.col("inactive") <= 1, 0)
        .when(F.col("inactive") <= 7, 1)
        .when(F.col("inactive") <= 30, 2)
        .otherwise(3)
    )
    return b.groupBy(band.cast("int").alias("churn_band")).agg(
        F.count(F.lit(1)).alias("n_users")
    )


# ---------------------------------------------------------------------------
# warehouse reporting
# ---------------------------------------------------------------------------

_SHIP_QUARTILE_ORACLE = """
WITH d AS (
  SELECT l.l_returnflag AS flag,
         date_diff('day', CAST(o.o_orderdate AS DATE),
                   CAST(l.l_shipdate AS DATE)) AS delay,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), r AS (
  SELECT flag, delay,
         ROW_NUMBER() OVER (PARTITION BY flag
                            ORDER BY delay, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY flag) AS n
  FROM d
)
SELECT flag, CAST(MAX(n) AS BIGINT) AS n_lines,
       CAST(MAX(CASE WHEN rn = (n - 1) // 4 + 1 THEN delay END) AS BIGINT)
         AS q1_days,
       CAST(MAX(CASE WHEN rn = (n - 1) // 2 + 1 THEN delay END) AS BIGINT)
         AS median_days,
       CAST(MAX(CASE WHEN rn = 3 * (n - 1) // 4 + 1 THEN delay END) AS BIGINT)
         AS q3_days
FROM r GROUP BY flag
"""


@_register(
    "ship_delay_quartiles",
    _SHIP_QUARTILE_ORACLE,
    doc="Order-to-ship delay quartiles per return flag: Q1/median/Q3 are "
    "VALUES picked at the exact rank positions of the (delay, orderkey, "
    "linenumber) total order — the part_type_price_iqr discipline on "
    "the fulfillment latency distribution (complements "
    "shipping_delay_stats' min/max/mean with the robust spread).",
)
def ship_delay_quartiles(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("l_returnflag").alias("flag"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("delay"),
        "l_orderkey",
        "l_linenumber",
    )
    w = Window.partitionBy("flag").orderBy("delay", "l_orderkey", "l_linenumber")
    wn = Window.partitionBy("flag")
    r = d.select(
        "flag",
        "delay",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(pos_expr: str):
        return F.max(
            F.when(F.col("rn") == F.expr(pos_expr), F.col("delay"))
        ).cast("bigint")

    return r.groupBy("flag").agg(
        F.max("n").alias("n_lines"),
        pick("(n - 1) div 4 + 1").alias("q1_days"),
        pick("(n - 1) div 2 + 1").alias("median_days"),
        pick("3 * (n - 1) div 4 + 1").alias("q3_days"),
    )


_SLOW_FULFILL_ORACLE = """
SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_slow,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                                    CAST(l.l_shipdate AS DATE)) > 90
                     THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
         AS slow_ppm
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderpriority
"""


@_register(
    "slow_fulfillment_share",
    _SLOW_FULFILL_ORACLE,
    doc="Share of lineitems shipped more than 90 days after the order, "
    "per priority class — the SLA breach report (urgent orders "
    "shipping slow is the anomaly to page on). One join, one "
    "aggregate, integer ppm.",
)
def slow_fulfillment_share(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    slow = F.when(
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        > 90,
        1,
    ).otherwise(0)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(slow).cast("bigint").alias("n_slow"),
            F.expr(
                "sum(CASE WHEN datediff(CAST(l_shipdate AS DATE),"
                " CAST(o_orderdate AS DATE)) > 90 THEN 1 ELSE 0 END)"
                " * 1000000 div count(1)"
            ).alias("slow_ppm"),
        )
    )


_RANK_SHIFT_ORACLE = """
WITH yr AS (
  SELECT MIN(EXTRACT(year FROM o_orderdate)) AS y0,
         MAX(EXTRACT(year FROM o_orderdate)) AS y1
  FROM orders
), rev AS (
  SELECT c.c_nationkey AS nk, EXTRACT(year FROM o.o_orderdate) AS yr,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) * 10000 AS BIGINT)
           AS units
  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY 1, 2
), ranked AS (
  SELECT r.nk, r.yr,
         ROW_NUMBER() OVER (PARTITION BY r.yr
                            ORDER BY r.units DESC, r.nk) AS rnk
  FROM rev r, yr WHERE r.yr = yr.y0 OR r.yr = yr.y1
)
SELECT n.n_name,
       CAST(a.rnk AS BIGINT) AS rank_first,
       CAST(b.rnk AS BIGINT) AS rank_last,
       CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain
FROM ranked a
JOIN ranked b ON a.nk = b.nk AND a.yr <> b.yr AND a.yr < b.yr
JOIN nation n ON a.nk = n.n_nationkey
"""


@_register(
    "nation_yearly_rank_shift",
    _RANK_SHIFT_ORACLE,
    doc="Nation revenue-rank movement between the corpus's first and "
    "last order year: rank within each year (units DESC, nationkey "
    "tie-break over exact integer 1/10000-currency units) and the "
    "gain — the market-share momentum table. The two year scalars are "
    "one broadcast row; ranking windows are per-year (25 rows each).",
)
def nation_yearly_rank_shift(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    nation = load_table(spark, sf, "nation")
    yr = orders.select(
        F.min(F.year("o_orderdate")).alias("y0"),
        F.max(F.year("o_orderdate")).alias("y1"),
    )
    rev = (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            F.year("o_orderdate").alias("yr"),
        )
        .agg((F.sum(dec(F.col("o_totalprice"))) * 10000).cast("bigint").alias("units"))
    )
    sel = rev.crossJoin(F.broadcast(yr)).where(
        (F.col("yr") == F.col("y0")) | (F.col("yr") == F.col("y1"))
    )
    ranked = sel.select(
        "nk",
        "yr",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy(F.col("units").desc(), "nk"))
        .alias("rnk"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    j = a.join(
        b,
        (F.col("a.nk") == F.col("b.nk")) & (F.col("a.yr") < F.col("b.yr")),
    )
    return (
        j.join(F.broadcast(nation), F.col("a.nk") == F.col("n_nationkey"))
        .select(
            "n_name",
            F.col("a.rnk").cast("bigint").alias("rank_first"),
            F.col("b.rnk").cast("bigint").alias("rank_last"),
            (F.col("a.rnk") - F.col("b.rnk")).cast("bigint").alias("rank_gain"),
        )
    )


_QTY_MODE_ORACLE = """
WITH q AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem GROUP BY 1, 2
), r AS (
  SELECT flag, qty, cnt,
         ROW_NUMBER() OVER (PARTITION BY flag ORDER BY cnt DESC, qty) AS rn
  FROM q
)
SELECT flag, qty AS modal_qty, cnt AS n_at_mode
FROM r WHERE rn = 1
"""


@_register(
    "quantity_mode_by_flag",
    _QTY_MODE_ORACLE,
    doc="Modal order quantity per return flag (tie → lowest quantity): "
    "the argmax-per-key discipline on the quantity histogram — mode is "
    "the one central statistic SQL has no aggregate for, so it is a "
    "count aggregate + ROW_NUMBER pick, never a self-join.",
)
def quantity_mode_by_flag(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    q = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    r = q.select(
        "flag",
        "qty",
        "cnt",
        F.row_number()
        .over(Window.partitionBy("flag").orderBy(F.col("cnt").desc(), "qty"))
        .alias("rn"),
    )
    return r.where(F.col("rn") == 1).select(
        "flag", F.col("qty").alias("modal_qty"), F.col("cnt").alias("n_at_mode")
    )


_PRICE_BAND_DISCOUNT_ORACLE = """
SELECT CAST(floor(p.p_retailprice) AS BIGINT) // 500 AS price_band,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l.l_discount AS DECIMAL(18,4))) * 1000 / COUNT(*)
            AS DOUBLE) AS mean_discount_milli,
       CAST(floor(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
              * (1 - CAST(l.l_discount AS DECIMAL(18,4)))) * 100) AS BIGINT)
         AS revenue_cents
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY 1
"""


@_register(
    "price_band_discount_profile",
    _PRICE_BAND_DISCOUNT_ORACLE,
    doc="Discount behavior by part price band (500-currency bands): do "
    "expensive parts get discounted deeper? Discounts and revenue are "
    "summed as exact DECIMAL (the dec_sum contract); the mean discount "
    "is the exact decimal sum scaled by 1000 and divided once — the "
    "single IEEE division both engines perform identically. Revenue is "
    "emitted as exact integer cents (floored), not a double: a whole-"
    "band money sum needs 17 significant digits, where the two engines' "
    "decimal→double conversions can land on adjacent doubles.",
)
def price_band_discount_profile(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.groupBy(
        # floor() before the BIGINT cast: DuckDB's double→BIGINT cast
        # ROUNDS while Spark's truncates — floor makes both engines agree
        # on boundary prices (…999.6 stays in the lower band).
        F.expr("CAST(floor(p_retailprice) AS BIGINT) div 500").alias("price_band")
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        # exact decimal numerator, ONE IEEE division (duck divides decimal
        # by count in double; dividing in Spark's decimal arithmetic would
        # truncate scale before the double cast and disagree in the tail)
        ((F.sum(dec(F.col("l_discount"))) * 1000).cast("double") / F.count(F.lit(1)))
        .alias("mean_discount_milli"),
        F.expr(
            "CAST(floor(SUM(CAST(l_extendedprice AS DECIMAL(18,4))"
            " * (1 - CAST(l_discount AS DECIMAL(18,4)))) * 100) AS BIGINT)"
        ).alias("revenue_cents"),
    )


_SUPP_SIGN_ORACLE = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_negative,
       CAST(SUM(CASE WHEN s.s_acctbal < 0 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS negative_ppm,
       CAST(SUM(CAST(s.s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_bal
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@_register(
    "supplier_balance_health",
    _SUPP_SIGN_ORACLE,
    doc="Supplier account-balance health per nation: how many suppliers "
    "are in the red, their ppm share, and the exact DECIMAL net "
    "balance — the credit-risk rollup next to "
    "supplier_nation_balance_share's volume view. Broadcast 25-row "
    "dim join.",
)
def supplier_balance_health(spark: SparkSession, sf: str) -> DataFrame:
    sup = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    return (
        sup.join(F.broadcast(nation), sup.s_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum(F.when(F.col("s_acctbal") < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_negative"),
            F.expr(
                "sum(CASE WHEN s_acctbal < 0 THEN 1 ELSE 0 END) * 1000000"
                " div count(1)"
            ).alias("negative_ppm"),
            dec_sum(F.col("s_acctbal")).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round8c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Behavioral Fano-factor bands
# ---------------------------------------------------------------------------

_FANO_BAND_CASE = (
    "CASE WHEN fano < 500 THEN 0 WHEN fano < 650 THEN 1 WHEN fano < 800 THEN 2"
    " WHEN fano < 950 THEN 3 WHEN fano < 1100 THEN 4 ELSE 5 END"
)

_FANO_ORACLE = f"""
WITH d AS (
  SELECT user_id, CAST(ts AS DATE) AS dy, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY user_id, dy
), u AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(c) AS BIGINT) AS s, CAST(SUM(c * c) AS BIGINT) AS q
  FROM d GROUP BY user_id
), fv AS (
  SELECT 1000 * (n * q - s * s) // (n * s) AS fano FROM u
)
SELECT CAST({_FANO_BAND_CASE} AS INTEGER) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM fv GROUP BY 1
"""


@_register(
    "events_fano_daily",
    _FANO_ORACLE,
    doc="Burstiness via the Fano factor of per-user daily event counts "
    "(population variance / mean, exact integer milli: 1000*(n*Sq - "
    "S^2) div (n*S)) — under 1000 means steadier than Poisson, over "
    "means bursty; banded user counts. Two stacked aggregates (user x "
    "day, then user), band thresholds calibrated on the sf0.01 "
    "distribution (med 713, q3 817 milli).",
)
def events_fano_daily(spark: SparkSession, sf: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf, "events"))
    d = ev.groupBy("user_id", F.to_date("ts").alias("dy")).agg(
        F.count(F.lit(1)).alias("c")
    )
    u = d.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    fv = u.select(F.expr("1000 * (n * q - s * s) div (n * s)").alias("fano"))
    return fv.groupBy(
        F.expr(_FANO_BAND_CASE).cast("int").alias("band")
    ).agg(F.count(F.lit(1)).alias("n_users"))


# ---------------------------------------------------------------------------
# Warehouse faces
# ---------------------------------------------------------------------------

_SEASONALITY_ORACLE = """
WITH m AS (
  SELECT CAST(month(o_orderdate) AS INTEGER) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_orders
  FROM orders GROUP BY 1
)
SELECT m, n_orders,
       CAST(n_orders * 12 * 1000000 // SUM(n_orders) OVER () AS BIGINT)
         AS index_ppm
FROM m
"""


@_register(
    "orders_monthly_seasonality",
    _SEASONALITY_ORACLE,
    doc="Month-of-year seasonality index: each calendar month's order "
    "count against the uniform expectation (12 * count / total, ppm — "
    "1000000 = exactly average). One month-keyed aggregate; the "
    "total is a window over the 12-row result.",
)
def orders_monthly_seasonality(spark: SparkSession, sf: str) -> DataFrame:
    o = fan_out(load_table(spark, sf, "orders"))
    m = o.groupBy(F.month("o_orderdate").cast("int").alias("m")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
    return m.select(
        "m",
        "n_orders",
        F.expr("n_orders * 12 * 1000000 div sum(n_orders) over ()").alias(
            "index_ppm"
        ),
    )


_DEGREE_ORACLE = """
WITH ps AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), sp AS (
  SELECT 'suppliers_per_part' AS side, CAST(COUNT(*) AS BIGINT) AS degree
  FROM ps GROUP BY l_partkey
), pp AS (
  SELECT 'parts_per_supplier' AS side, CAST(COUNT(*) AS BIGINT) AS degree
  FROM ps GROUP BY l_suppkey
), uni AS (
  SELECT * FROM sp UNION ALL SELECT * FROM pp
)
SELECT side, degree, CAST(COUNT(*) AS BIGINT) AS n_keys
FROM uni GROUP BY side, degree
"""


@_register(
    "part_supplier_degree_hist",
    _DEGREE_ORACLE,
    doc="Degree distribution of the part-supplier bipartite graph "
    "implied by lineitem (distinct (part, supplier) pairs): suppliers "
    "per part and parts per supplier histograms in one face — the "
    "fan-out profile that prices a part->supplier join and flags "
    "skewed hub keys. One distinct-pair reduction feeds both "
    "directions.",
)
def part_supplier_degree_hist(spark: SparkSession, sf: str) -> DataFrame:
    li = fan_out(load_table(spark, sf, "lineitem"))
    ps = li.select("l_partkey", "l_suppkey").distinct()
    sp = ps.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ).select(F.lit("suppliers_per_part").alias("side"), "degree")
    pp = ps.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("degree")
    ).select(F.lit("parts_per_supplier").alias("side"), "degree")
    return sp.unionByName(pp).groupBy("side", "degree").agg(
        F.count(F.lit(1)).alias("n_keys")
    )


# ---------------------------------------------------------------------------
# folded from the round9 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# behavioral drift
# ---------------------------------------------------------------------------

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, CAST(ts AS DATE)
), tot AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(cnt) AS BIGINT) AS total
  FROM daily GROUP BY user_id
), cum AS (
  SELECT d.user_id, t.n_days, t.total,
         SUM(t.n_days * d.cnt) OVER (PARTITION BY d.user_id ORDER BY d.day
                                     ROWS UNBOUNDED PRECEDING)
           - ROW_NUMBER() OVER (PARTITION BY d.user_id ORDER BY d.day) * t.total
           AS cusum
  FROM daily d JOIN tot t ON d.user_id = t.user_id
)
SELECT user_id, MAX(n_days) AS n_days, MAX(total) AS total_events,
       CAST(MAX(cusum) AS BIGINT) AS max_cusum,
       CAST(MIN(cusum) AS BIGINT) AS min_cusum
FROM cum GROUP BY user_id
"""


@_register(
    "events_cusum_extremes",
    _CUSUM_ORACLE,
    doc="Per-user activity drift via integer CUSUM: daily counts minus "
    "the user's lifetime mean, accumulated in day order, with the "
    "whole series scaled by n_days so the running sum is EXACT integer "
    "arithmetic (cusum_k = sum(n_days*cnt_d, d<=k) − k*total — no "
    "float mean anywhere). Large |max|/|min| extremes mark burst and "
    "dormancy regimes; a flat user pins both near 0. Shuffles: the "
    "(user, day) aggregate, a broadcast-sized per-user totals join, "
    "and a per-user day window — the same keys, so AQE coalesces to "
    "one exchange.",
)
def events_cusum_extremes(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = daily.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("cnt").cast("bigint").alias("total"),
    )
    w = Window.partitionBy("user_id").orderBy("day")
    cum = (
        daily.join(tot, "user_id")
        .withColumn(
            "cusum",
            F.sum(F.col("n_days") * F.col("cnt")).over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.row_number().over(w) * F.col("total"),
        )
    )
    return cum.groupBy("user_id").agg(
        F.max("n_days").alias("n_days"),
        F.max("total").alias("total_events"),
        F.max("cusum").cast("bigint").alias("max_cusum"),
        F.min("cusum").cast("bigint").alias("min_cusum"),
    )


_BENFORD_PPM = {d: int(math.log10(1 + 1 / d) * 1_000_000) for d in range(1, 10)}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


@_register(
    "events_benford_first_digit",
    f"""
WITH v AS (
  SELECT CAST(substr(CAST(CAST(ROUND(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
              AS BIGINT) AS digit
  FROM events WHERE value > 0
), agg AS (
  SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_events FROM v GROUP BY digit
)
SELECT digit, n_events,
       CAST(n_events * 1000000 // SUM(n_events) OVER () AS BIGINT) AS ppm,
       CAST({_BENFORD_CASE} AS BIGINT) AS benford_ppm
FROM agg
""",
    doc="Benford first-significant-digit profile of event values — the "
    "classic synthetic-data / fraud smell test. The digit is extracted "
    "through INTEGER cents (round(value*100) → bigint → first char of "
    "the integer's decimal string), never through float log10, so both "
    "engines bucket identically; the Benford reference ppm is a "
    "python-precomputed constant table inlined as the SAME literal "
    "CASE in both engines. One narrow pass + a 9-row aggregate.",
)
def events_benford_first_digit(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    v = ev.where(F.col("value") > 0).select(
        F.substring(
            F.round(F.col("value") * 100).cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    agg = v.groupBy("digit").agg(F.count(F.lit(1)).alias("n_events"))
    return agg.select(
        "digit",
        "n_events",
        F.expr("n_events * 1000000 div sum(n_events) over ()").alias("ppm"),
        F.expr(_BENFORD_CASE).cast("bigint").alias("benford_ppm"),
    )


# ---------------------------------------------------------------------------
# warehouse faces
# ---------------------------------------------------------------------------

_NATION_BS_ORACLE = """
WITH s AS (
  SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_suppliers,
         CAST(SUM(CAST(s_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS supp_bal
  FROM supplier GROUP BY s_nationkey
), c AS (
  SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS cust_bal
  FROM customer GROUP BY c_nationkey
)
SELECT n.n_name,
       COALESCE(s.n_suppliers, 0) AS n_suppliers,
       COALESCE(c.n_customers, 0) AS n_customers,
       COALESCE(s.supp_bal, 0.0) AS supp_bal,
       COALESCE(c.cust_bal, 0.0) AS cust_bal
FROM nation n
LEFT JOIN s ON n.n_nationkey = s.nk
LEFT JOIN c ON n.n_nationkey = c.nk
"""


@_register(
    "nation_balance_sheet",
    _NATION_BS_ORACLE,
    doc="Per-nation balance sheet across BOTH sides of the trade graph: "
    "supplier headcount + exact-DECIMAL account-balance total joined "
    "against the customer-side twins, anchored on the 25-row nation "
    "dim (left joins, zero-filled) so nations missing a side still "
    "report. Two independent fact aggregates reduce each table to "
    "<= 25 rows BEFORE any join — the join inputs are dimension-sized "
    "regardless of fact scale.",
)
def nation_balance_sheet(spark: SparkSession, sf: str) -> DataFrame:
    sup = load_table(spark, sf, "supplier")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    s = sup.groupBy(F.col("s_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        dec_sum(F.col("s_acctbal")).alias("supp_bal"),
    )
    c = cust.groupBy(F.col("c_nationkey").alias("nk")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        dec_sum(F.col("c_acctbal")).alias("cust_bal"),
    )
    return (
        nation.join(F.broadcast(s), nation.n_nationkey == s.nk, "left")
        .join(F.broadcast(c), nation.n_nationkey == c.nk, "left")
        .select(
            "n_name",
            F.coalesce("n_suppliers", F.lit(0)).cast("bigint").alias("n_suppliers"),
            F.coalesce("n_customers", F.lit(0)).cast("bigint").alias("n_customers"),
            F.coalesce("supp_bal", F.lit(0.0)).alias("supp_bal"),
            F.coalesce("cust_bal", F.lit(0.0)).alias("cust_bal"),
        )
    )


_SEGMENT_ORACLE = """
WITH j AS (
  SELECT c.c_mktsegment AS segment,
         LEAST(CAST(FLOOR(o.o_totalprice / 50000) AS BIGINT), 8) AS value_band,
         o.o_totalprice AS price
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), agg AS (
  SELECT segment, value_band, CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(SUM(CAST(price AS DECIMAL(18,4))) AS DOUBLE) AS band_value
  FROM j GROUP BY segment, value_band
)
SELECT segment, value_band, n_orders, band_value,
       CAST(n_orders * 1000000 //
            SUM(n_orders) OVER (PARTITION BY segment) AS BIGINT) AS seg_ppm
FROM agg
"""


@_register(
    "segment_value_profile",
    _SEGMENT_ORACLE,
    doc="Market-segment × order-value-band profile: the 50k-wide band "
    "ladder (capped at 8+, identical double divide before the floor in "
    "both engines) crossed with the customer segment via the "
    "orders→customer key join, with each band's ppm share within its "
    "segment. The fact-side join shuffles on o_custkey once; the share "
    "window runs on the <= 45-row aggregate. The segment dimension "
    "lives on the customer row — this is the canonical 'enrich facts "
    "with a customer attribute then profile' shape.",
)
def segment_value_profile(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    j = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders.o_custkey == F.col("c_custkey"),
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.least(
            F.floor(F.col("o_totalprice") / 50000).cast("long"),
            F.lit(8).cast("long"),
        ).alias("value_band"),
        F.col("o_totalprice").alias("price"),
    )
    agg = j.groupBy("segment", "value_band").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dec_sum(F.col("price")).alias("band_value"),
    )
    return agg.select(
        "segment",
        "value_band",
        "n_orders",
        "band_value",
        F.expr(
            "n_orders * 1000000 div sum(n_orders) over (partition by segment)"
        ).alias("seg_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Behavioral sequences: per-user entropy + second-order Markov
# ---------------------------------------------------------------------------


@_register(
    "user_event_entropy",
    """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM events GROUP BY user_id, event_type
), t AS (
  SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM c GROUP BY user_id
)
SELECT c.user_id, MAX(t.n) AS n_events, MAX(t.n_types) AS n_types,
       CAST(SUM(CAST(ROUND(
         -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS entropy
FROM c JOIN t ON c.user_id = t.user_id
GROUP BY c.user_id
""",
    doc="Per-user Shannon entropy of the event-type distribution — the "
    "behavioral-diversity feature separating single-purpose accounts "
    "(entropy ~0) from engaged users (~ln 5): each -p*ln(p) term "
    "rounded to 6dp and summed as exact DECIMAL (the "
    "unigram_entropy_by_lang recipe), so the sum is order-independent. "
    "Both aggregates and the totals join share the user_id key — one "
    "shuffle, zero extra exchanges.",
)
def user_event_entropy(spark: SparkSession, sf: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf, "events"))
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("user_id").agg(
        F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 6).cast("decimal(18,6)")
    return (
        c.join(t, "user_id")
        .groupBy("user_id")
        .agg(
            F.max("n").alias("n_events"),
            F.max("n_types").alias("n_types"),
            F.sum(term).cast("double").alias("entropy"),
        )
    )


@_register(
    "events_markov_2step",
    """
WITH s AS (
  SELECT user_id, event_type,
         LAG(event_type, 1) OVER w AS t1,
         LAG(event_type, 2) OVER w AS t2
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), c AS (
  SELECT t2, t1, event_type AS t0, CAST(COUNT(*) AS BIGINT) AS n
  FROM s WHERE t2 IS NOT NULL GROUP BY t2, t1, event_type
)
SELECT t2, t1, t0, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY t2, t1) AS BIGINT)
         AS cond_ppm
FROM c
""",
    doc="Second-order Markov transition model of user behavior: counts "
    "and conditional ppm of event_type given the two preceding events "
    "in the user's (ts, event_id)-ordered stream — the sequence-model "
    "upgrade of event_transitions (first-order) that exposes e.g. "
    "view->click->purchase vs click->view->purchase asymmetry. One "
    "user-partitioned window sort for both lags, one (t2,t1,t0) "
    "aggregate, and the conditional total is a window over the "
    "|types|^2-row result — nothing scales with the corpus but the "
    "first sort.",
)
def events_markov_2step(spark: SparkSession, sf: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type",
        F.lag("event_type", 1).over(w).alias("t1"),
        F.lag("event_type", 2).over(w).alias("t2"),
    )
    c = (
        s.where(F.col("t2").isNotNull())
        .groupBy("t2", "t1", F.col("event_type").alias("t0"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return c.withColumn(
        "cond_ppm",
        F.expr("n * 1000000 div sum(n) over (partition by t2, t1)").cast(
            "bigint"
        ),
    )


# ---------------------------------------------------------------------------
# folded from the round9c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

@_register(
    "order_value_gini_by_segment",
    """
WITH o AS (
  SELECT c.c_mktsegment AS segment,
         CAST(FLOOR(CAST(o.o_totalprice AS DECIMAL(18,4)) * 100) AS BIGINT)
           AS cents,
         o.o_orderkey
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
), r AS (
  SELECT segment, cents,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, o_orderkey)
           AS i,
         COUNT(*) OVER (PARTITION BY segment) AS n
  FROM o
)
SELECT segment, CAST(MAX(n) AS BIGINT) AS n_orders,
       CAST(SUM(cents) AS BIGINT) AS total_cents,
       CAST(SUM((2 * i - n - 1) * cents) * 1000000
            // (MAX(n) * SUM(cents)) AS BIGINT) AS gini_ppm
FROM r GROUP BY segment
""",
    doc="Spend inequality per market segment: the Gini of order values — "
    "whale-dominance per segment, the revenue-risk statistic next to "
    "orders_pareto's top-share. Money enters as DECIMAL and becomes "
    "exact integer cents via FLOOR(x*100) (explicit floor: Spark "
    "truncates decimal->bigint casts while DuckDB rounds, so the "
    "recipe forces the same floor on both). " + _GINI_DOC,
)
def order_value_gini_by_segment(spark: SparkSession, sf: str) -> DataFrame:
    o = fan_out(load_table(spark, sf, "orders"))
    c = load_table(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c, o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.floor(dec(F.col("o_totalprice")) * 100).cast("bigint").alias("cents"),
        "o_orderkey",
    )
    w = Window.partitionBy("segment").orderBy("cents", "o_orderkey")
    wn = Window.partitionBy("segment")
    r = j.select(
        "segment",
        "cents",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # DECIMAL(38,0) numerator: see token_gini_by_source — BIGINT wraps at
    # sf0.01 already (~2.7e20) while DuckDB's SUM auto-promotes to HUGEINT
    return r.groupBy("segment").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        F.sum("cents").cast("bigint").alias("total_cents"),
        F.expr(
            "cast(sum(cast(2 * i - n - 1 as decimal(19,0))"
            "         * cast(cents as decimal(19,0))) * 1000000"
            " div cast(max(n) as decimal(19,0)) div sum(cast(cents as decimal(19,0)))"
            " as bigint)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Discrete inter-arrival hazard curve
# ---------------------------------------------------------------------------


@_register(
    "interarrival_hazard",
    """
WITH g AS (
  SELECT (epoch_us(ts) - epoch_us(LAG(ts) OVER (
            PARTITION BY user_id ORDER BY ts, event_id))) // 1000000 AS gap_s
  FROM events
), b AS (
  SELECT CASE WHEN gap_s < 60 THEN 0 WHEN gap_s < 300 THEN 60
              WHEN gap_s < 900 THEN 300 WHEN gap_s < 3600 THEN 900
              ELSE 3600 END AS band_lo
  FROM g WHERE gap_s IS NOT NULL
), c AS (
  SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY band_lo
)
SELECT band_lo, n,
       CAST(SUM(n) OVER (ORDER BY band_lo DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_at_risk,
       CAST(n * 1000000
            // SUM(n) OVER (ORDER BY band_lo DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS hazard_ppm
FROM c
""",
    doc="Discrete hazard curve of user inter-arrival times: for each gap "
    "band, P(return in this band | gap survived past its lower edge) "
    "in ppm — the survival-analysis read of interarrival data that a "
    "raw histogram hides (a hazard cliff at the 30-min band is where "
    "the session-gap threshold belongs; events_session_gap_sweep "
    "measures the consequence, this measures the cause). n_at_risk is "
    "a descending-band cumulative window; gaps from the one "
    "user-partitioned LAG pass (epoch_us recipe).",
)
def interarrival_hazard(spark: SparkSession, sf: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf, "events"))
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select((us - F.lag(us).over(w)).alias("gap_us")).where(
        F.col("gap_us").isNotNull()
    )
    g = g.select(F.expr("gap_us div 1000000").alias("gap_s"))
    b = g.select(
        F.when(F.col("gap_s") < 60, 0)
        .when(F.col("gap_s") < 300, 60)
        .when(F.col("gap_s") < 900, 300)
        .when(F.col("gap_s") < 3600, 900)
        .otherwise(3600)
        .cast("int")
        .alias("band_lo")
    )
    c = b.groupBy("band_lo").agg(F.count(F.lit(1)).alias("n"))
    return c.select(
        "band_lo",
        "n",
        F.expr(
            "sum(n) over (order by band_lo desc rows unbounded preceding)"
        )
        .cast("bigint")
        .alias("n_at_risk"),
        F.expr(
            "n * 1000000 div sum(n) over (order by band_lo desc"
            " rows unbounded preceding)"
        )
        .cast("bigint")
        .alias("hazard_ppm"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV matrix (exact-decimal money)
# ---------------------------------------------------------------------------


@_register(
    "cohort_ltv_matrix",
    """
WITH f AS (
  SELECT o_custkey,
         MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS m0
  FROM orders GROUP BY o_custkey
), o AS (
  SELECT o.o_custkey,
         CAST((f.m0 - 1) // 12 AS INTEGER) AS cohort_year,
         CAST((f.m0 - 1) % 12 + 1 AS INTEGER) AS cohort_month,
         CAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.m0
              AS INTEGER) AS age_months,
         CAST(o.o_totalprice AS DECIMAL(18,4)) AS v
  FROM orders o JOIN f ON o.o_custkey = f.o_custkey
), g AS (
  SELECT cohort_year, cohort_month, age_months,
         CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
         SUM(v) AS rev
  FROM o GROUP BY 1, 2, 3
)
SELECT cohort_year, cohort_month, age_months, n_customers,
       CAST(rev AS DOUBLE) AS revenue,
       CAST(SUM(rev) OVER (PARTITION BY cohort_year, cohort_month
                           ORDER BY age_months ROWS UNBOUNDED PRECEDING)
            AS DOUBLE) AS cum_revenue
FROM g
""",
    doc="Cohort lifetime-value matrix: customers grouped by first-order "
    "month, revenue by months-since-first-order with the cumulative "
    "LTV running sum — the standard finance triangle. Months compare "
    "as y*12+m integers (no date arithmetic ambiguity); money rides "
    "DECIMAL end-to-end (dec_sum discipline) and both the cell revenue "
    "and the cumulative window sum cast to double only at emission. "
    "One first-order aggregate joined back customer-keyed, one "
    "(cohort, age) aggregate, one bounded window.",
)
def cohort_ltv_matrix(spark: SparkSession, sf: str) -> DataFrame:
    o = fan_out(load_table(spark, sf, "orders"))
    m = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    f = o.groupBy("o_custkey").agg(F.min(m).alias("m0"))
    j = o.join(f, "o_custkey").select(
        "o_custkey",
        F.expr("(m0 - 1) div 12").cast("int").alias("cohort_year"),
        F.expr("(m0 - 1) % 12 + 1").cast("int").alias("cohort_month"),
        (m - F.col("m0")).cast("int").alias("age_months"),
        dec(F.col("o_totalprice")).alias("v"),
    )
    g = j.groupBy("cohort_year", "cohort_month", "age_months").agg(
        F.count_distinct("o_custkey").alias("n_customers"),
        F.sum("v").alias("rev"),
    )
    wc = (
        Window.partitionBy("cohort_year", "cohort_month")
        .orderBy("age_months")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return g.select(
        "cohort_year",
        "cohort_month",
        "age_months",
        "n_customers",
        F.col("rev").cast("double").alias("revenue"),
        F.sum("rev").over(wc).cast("double").alias("cum_revenue"),
    )


# ---------------------------------------------------------------------------
# Revenue concentration: HHI per nation
# ---------------------------------------------------------------------------


@_register(
    "supplier_hhi_by_nation",
    """
WITH r AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,4))
             * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS rev
  FROM lineitem GROUP BY l_suppkey
), sc AS (
  SELECT s.s_nationkey, CAST(FLOOR(r.rev * 100) AS BIGINT) AS cents
  FROM r JOIN supplier s ON r.l_suppkey = s.s_suppkey
), sh AS (
  SELECT s_nationkey, cents,
         CAST(cents * 1000000 // SUM(cents) OVER (PARTITION BY s_nationkey)
              AS BIGINT) AS share_ppm
  FROM sc
)
SELECT n.n_name AS nation,
       CAST(COUNT(*) AS BIGINT) AS n_suppliers,
       CAST(SUM(sh.cents) AS BIGINT) AS revenue_cents,
       CAST(SUM(sh.share_ppm * sh.share_ppm) // 1000000 AS BIGINT) AS hhi_ppm
FROM sh JOIN nation n ON sh.s_nationkey = n.n_nationkey
GROUP BY n.n_name
""",
    doc="Herfindahl-Hirschman revenue concentration per supplier nation: "
    "HHI = sum of squared revenue shares, in ppm (1e6/n = perfectly "
    "competitive, 1e6 = monopoly) — the antitrust-grade concentration "
    "statistic next to the top-k shares the repo already reports. "
    "Revenue is the exact-DECIMAL TPC-H expression folded per "
    "supplier, floored to integer cents (explicit FLOOR: engines "
    "disagree on decimal->int cast rounding), shares are integer ppm "
    "via one nation-partitioned window total, and HHI is a BIGINT "
    "square-sum. One lineitem aggregate + a broadcast supplier/nation "
    "dim join.",
)
def supplier_hhi_by_nation(spark: SparkSession, sf: str) -> DataFrame:
    li = fan_out(load_table(spark, sf, "lineitem"))
    su = load_table(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    na = load_table(spark, sf, "nation").select("n_nationkey", "n_name")
    r = li.groupBy("l_suppkey").agg(
        F.sum(
            dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
        ).alias("rev")
    )
    sc = r.join(F.broadcast(su), r["l_suppkey"] == su["s_suppkey"]).select(
        "s_nationkey", F.floor(F.col("rev") * 100).cast("bigint").alias("cents")
    )
    wn = Window.partitionBy("s_nationkey")
    sh = sc.select(
        "s_nationkey",
        "cents",
        F.expr(
            "cents * 1000000 div sum(cents) over (partition by s_nationkey)"
        )
        .cast("bigint")
        .alias("share_ppm"),
    )
    return (
        sh.join(F.broadcast(na), sh["s_nationkey"] == na["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.expr("sum(share_ppm * share_ppm) div 1000000")
            .cast("bigint")
            .alias("hhi_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# First-order Markov conditional entropy
# ---------------------------------------------------------------------------


@_register(
    "markov_conditional_entropy",
    """
WITH s AS (
  SELECT event_type AS t0,
         LAG(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t1
  FROM events
), c AS (
  SELECT t1, t0, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM s WHERE t1 IS NOT NULL GROUP BY t1, t0
), t AS (
  SELECT t1, CAST(SUM(cnt) AS BIGINT) AS n FROM c GROUP BY t1
), g AS (
  SELECT CAST(SUM(n) AS BIGINT) AS total FROM t
)
SELECT c.t1, MAX(t.n) AS n_transitions,
       CAST(MAX(t.n) * 1000000 // MAX(g.total) AS BIGINT) AS share_ppm,
       CAST(SUM(CAST(ROUND(
         -(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE))
           * ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS entropy
FROM c JOIN t ON c.t1 = t.t1 CROSS JOIN g
GROUP BY c.t1
""",
    doc="First-order Markov conditional entropy H(next | prev) per "
    "previous event type, with each state's stationary share in ppm — "
    "how predictable the next action is given the last one; the "
    "weighted sum is the chain's entropy rate, the sequence-"
    "compressibility number that complements events_markov_2step's "
    "raw transition table. 6dp-DECIMAL entropy recipe; one LAG pass, "
    "then aggregates over |types|^2 rows.",
)
def markov_conditional_entropy(spark: SparkSession, sf: str) -> DataFrame:
    ev = fan_out(load_table(spark, sf, "events"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        F.col("event_type").alias("t0"),
        F.lag("event_type", 1).over(w).alias("t1"),
    )
    c = (
        s.where(F.col("t1").isNotNull())
        .groupBy("t1", "t0")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    t = c.groupBy("t1").agg(F.sum("cnt").alias("n"))
    g = t.agg(F.sum("n").alias("total"))
    p = F.col("cnt").cast("double") / F.col("n").cast("double")
    term = F.round(-p * F.log(p), 6).cast("decimal(18,6)")
    return (
        c.join(F.broadcast(t), "t1")
        .crossJoin(F.broadcast(g))
        .groupBy("t1")
        .agg(
            F.max("n").alias("n_transitions"),
            F.expr("max(n) * 1000000 div max(total)")
            .cast("bigint")
            .alias("share_ppm"),
            F.sum(term).cast("double").alias("entropy"),
        )
    )


# the cardinality-estimation audit an optimizer's join-ordering rides:
# how wrong is the uniform-distribution estimate on a skewed key, and
# how much of the error an end-biased histogram (exact top-k heavy
# keys + uniform remainder — the classic System R refinement) buys
# back. Products run in DECIMAL(38,0)/HUGEINT: sum(c^2) and N^2
# overflow int64 at warehouse row counts.

_JOINCARD_ORACLE = """
WITH c AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id
), tot AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n, CAST(COUNT(*) AS BIGINT) AS u,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS exact_pairs
  FROM c
), top AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k_top,
         CAST(SUM(c) AS BIGINT) AS n_top,
         CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS pairs_top
  FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 10)
)
SELECT tot.n AS rows_in, tot.u AS ndv,
       CAST(tot.exact_pairs AS BIGINT) AS exact_pairs,
       CAST(CAST(tot.n AS HUGEINT) * tot.n // tot.u AS BIGINT)
         AS est_uniform,
       CAST((CAST(tot.n AS HUGEINT) * tot.n // tot.u) * 1000000
            // tot.exact_pairs AS BIGINT) AS uniform_ratio_ppm,
       CAST(top.pairs_top
            + CAST(tot.n - top.n_top AS HUGEINT) * (tot.n - top.n_top)
              // GREATEST(tot.u - top.k_top, 1) AS BIGINT) AS est_endbiased,
       CAST((top.pairs_top
             + CAST(tot.n - top.n_top AS HUGEINT) * (tot.n - top.n_top)
               // GREATEST(tot.u - top.k_top, 1)) * 1000000
            // tot.exact_pairs AS BIGINT) AS endbiased_ratio_ppm
FROM tot CROSS JOIN top
"""


@_register(
    "join_cardinality_audit",
    _JOINCARD_ORACLE,
    doc="Cardinality-estimation audit for the self-join on the skewed "
    "user key — the measurement behind cost-based join ordering: "
    "exact |events x events on user_id| = sum(c^2) from the per-key "
    "histogram, vs the uniform-assumption estimate N^2/ndv every "
    "textbook optimizer starts from, vs the end-biased refinement "
    "(top-10 heavy keys exact + uniform remainder, System R style), "
    "each as an exact integer ratio in ppm. Under-estimates here are "
    "how skewed shuffle joins get planned onto too few tasks. "
    "Intermediate arithmetic runs in DECIMAL(38,0)/HUGEINT so the ppm "
    "ratios stay exact at any scale; the absolute pair-count OUTPUT "
    "columns are int64 (repo convention: no decimal output) and "
    "saturate past 2^63 pairs — beyond that consumers read the "
    "ratios. One key-grain aggregate; the top-10 is "
    "TakeOrderedAndProject; everything after is 1-row broadcast math.",
)
def join_cardinality_audit(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    tot = c.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("u"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
            "exact_pairs_dec"
        ),
    )
    top = (
        c.orderBy(F.col("c").desc(), "user_id")
        .limit(10)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k_top"),
            F.sum("c").cast("bigint").alias("n_top"),
            F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias(
                "pairs_top_dec"
            ),
        )
    )
    est_u = "CAST(n AS DECIMAL(38,0)) * n div u"
    est_e = (
        "pairs_top_dec + CAST(n - n_top AS DECIMAL(38,0)) * (n - n_top) "
        "div GREATEST(u - k_top, 1)"
    )
    return tot.crossJoin(top).select(
        F.col("n").alias("rows_in"),
        F.col("u").alias("ndv"),
        F.col("exact_pairs_dec").cast("bigint").alias("exact_pairs"),
        F.expr(f"CAST({est_u} AS BIGINT)").alias("est_uniform"),
        F.expr(
            f"CAST(({est_u}) * 1000000 div exact_pairs_dec AS BIGINT)"
        ).alias("uniform_ratio_ppm"),
        F.expr(f"CAST({est_e} AS BIGINT)").alias("est_endbiased"),
        F.expr(
            f"CAST(({est_e}) * 1000000 div exact_pairs_dec AS BIGINT)"
        ).alias("endbiased_ratio_ppm"),
    )
