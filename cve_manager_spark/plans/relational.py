"""Relational parity + extension queries (SURVEY.md §2.2–§2.6).

Each query re-expresses one operator the reference performs (cited
``cve_manager.py:<line>``) on the driver testdata tables, as an idiomatic
Catalyst-optimized DataFrame plan, paired with its DuckDB oracle SQL.

Scale design notes (100 TB):
- filters/projections (P3–P9) are pure scan-time work: predicate pushdown +
  column pruning land them in the parquet reader, no shuffle;
- join_inner_view / join_star_detail shuffle only on join keys; dimension
  sides (nation/region/cwe-sized) are explicitly broadcast — zero shuffle
  for the dim side at any fact-table scale;
- aggregations use hash partial aggregation (map-side combine) and exact
  DECIMAL sums (order-independent → cluster-deterministic);
- window queries partition by their natural key; no global windows except
  sort_topk, which Spark executes as TakeOrderedAndProject (per-partition
  top-k + driver merge of k·p rows, not a global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.functions.helpers import dec, dec_sum, fan_out, is_digits, strip_charset_prefix
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# ---------------------------------------------------------------------------
# §2.2 projections / filters
# ---------------------------------------------------------------------------

@_register(
    "project_cols",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem",
    doc="P3 fixed SELECT list (cve_manager.py:400,434): column pruning reaches the scan.",
)
def project_cols(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@_register(
    "project_nested",
    "SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS e0, label FROM embeddings",
    doc="P1 nested-path projection (cve_manager.py:250,258): dotted/element access instead of dict-path code.",
)
def project_nested(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return emb.select(
        "vec_id", F.element_at("embedding", 1).cast("double").alias("e0"), "label"
    )


@_register(
    "null_fallback",
    "SELECT l_orderkey, l_linenumber, coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag FROM lineitem",
    doc="P2 missing-value fallback: the reference's try/except KeyError ladder "
    "(cve_manager.py:259-278) becomes declarative NULL semantics + coalesce.",
)
def null_fallback(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.col("l_linestatus")).alias("flag"),
    )


@_register(
    "filter_like",
    "SELECT p_partkey, p_name, p_brand FROM part WHERE p_name LIKE '%re%'",
    doc="P4 substring pattern filter, leading-wildcard LIKE (cve_manager.py:400,492). "
    "Non-sargable in any engine; Catalyst still prunes columns and pushes the "
    "residual filter into the scan node.",
)
def filter_like(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.where(F.col("p_name").like("%re%")).select("p_partkey", "p_name", "p_brand")


@_register(
    "filter_eq",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'F'",
    doc="P5 string equality filter (cve_manager.py:90,424 vulnerable='True').",
)
def filter_eq(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return orders.where(F.col("o_orderstatus") == "F").select("o_orderkey", "o_totalprice")


@_register(
    "filter_eq_int",
    "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey = 7",
    doc="P6 integer point lookup (cve_manager.py:418,545 cwe_id = n).",
)
def filter_eq_int(spark: SparkSession, sf: str) -> DataFrame:
    nation = load_table(spark, sf, "nation")
    return nation.where(F.col("n_nationkey") == 7).select("n_nationkey", "n_name")


@_register(
    "filter_or_threshold",
    "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem "
    "WHERE l_quantity >= 45 OR l_extendedprice >= 60000",
    doc="P7 numeric threshold with OR, NULL-safe 3VL (cve_manager.py:434 "
    "base_score_3 >= s OR base_score >= s).",
)
def filter_or_threshold(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.where((F.col("l_quantity") >= 45) | (F.col("l_extendedprice") >= 60000)).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )


@_register(
    "filter_date_range",
    "SELECT l_orderkey, l_linenumber, l_shipdate FROM lineitem "
    "WHERE l_shipdate >= TIMESTAMP '1998-06-01 00:00:00'",
    doc="P8 date lower bound (cve_manager.py:434 published_date >= d::date).",
)
def filter_date_range(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.where(F.col("l_shipdate") >= F.lit("1998-06-01 00:00:00").cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_shipdate"
    )


@_register(
    "filter_conjunction",
    "SELECT o_orderkey, o_orderpriority, o_totalprice, o_orderdate FROM orders "
    "WHERE o_orderpriority LIKE '%URGENT%' AND (o_totalprice >= 150000 OR o_totalprice >= 200000) "
    "AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'",
    doc="P9 LIKE ∧ (≥ ∨ ≥) ∧ date≥ conjunction, the cve_manager.py:492 shape.",
)
def filter_conjunction(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return orders.where(
        F.col("o_orderpriority").like("%URGENT%")
        & ((F.col("o_totalprice") >= 150000) | (F.col("o_totalprice") >= 200000))
        & (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_orderpriority", "o_totalprice", "o_orderdate")


# ---------------------------------------------------------------------------
# §2.3 scalar functions
# ---------------------------------------------------------------------------

@_register(
    "str_concat_fold",
    "SELECT doc_id, array_to_string(string_split(text, ' '), '') AS joined FROM documents",
    doc="F1 fold-concat over an array (cve_manager.py:252-253 description_data join).",
)
def str_concat_fold(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", F.array_join(F.split("text", " "), "").alias("joined"))


@_register(
    "str_replace",
    "SELECT doc_id, regexp_replace(text, '[\\r\\n\\t]', ' ', 'g') AS clean FROM documents",
    doc="F2 whitespace normalization (cve_manager.py:254-256).",
)
def str_replace(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select("doc_id", F.translate("text", "\r\n\t", "   ").alias("clean"))


@_register(
    "str_strip_prefix",
    "SELECT p_partkey, regexp_replace(p_brand, '^[Brand#]+', '') AS brand_id FROM part",
    doc="F3 charset lstrip (cve_manager.py:416 problem.lstrip('CWE-')) — exact "
    "character-set semantics, not literal-prefix.",
)
def str_strip_prefix(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.select(
        "p_partkey", strip_charset_prefix(F.col("p_brand"), "Brand#").alias("brand_id")
    )


@_register(
    "str_isdigit",
    "SELECT p_partkey, regexp_matches(regexp_replace(p_brand, '^[Brand#]+', ''), '^[0-9]+$') AS is_num FROM part",
    doc="F4 digit gate (cve_manager.py:417 cwe.isdigit()).",
)
def str_isdigit(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    return part.select(
        "p_partkey", is_digits(strip_charset_prefix(F.col("p_brand"), "Brand#")).alias("is_num")
    )


@_register(
    "cast_to_string",
    "SELECT o_orderkey, CAST(o_orderkey AS VARCHAR) AS okey_str, CAST(o_custkey AS VARCHAR) AS ckey_str FROM orders",
    doc="F5 numeric→string cast (cve_manager.py:258 str(...) on row build).",
)
def cast_to_string(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return orders.select(
        "o_orderkey",
        F.col("o_orderkey").cast("string").alias("okey_str"),
        F.col("o_custkey").cast("string").alias("ckey_str"),
    )


@_register(
    "cast_date",
    "SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_d FROM lineitem",
    doc="F6 timestamp→date cast (cve_manager.py:434 '<d>'::date).",
)
def cast_date(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.select("l_orderkey", "l_linenumber", F.col("l_shipdate").cast("date").alias("ship_d"))


# ---------------------------------------------------------------------------
# §2.4 explodes
# ---------------------------------------------------------------------------

@_register(
    "explode_nested",
    "SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS val FROM embeddings",
    doc="E1 array explode (cve_manager.py:280-284 double explode of CWE labels).",
)
def explode_nested(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    return emb.select("vec_id", F.explode("embedding").alias("val")).select(
        "vec_id", F.col("val").cast("double").alias("val")
    )


@_register(
    "explode_conditional",
    "SELECT doc_id, unnest(CASE WHEN n_chars < 200 THEN string_split(text, ' ') "
    "ELSE ['<LONG>'] END) AS token FROM documents",
    doc="E2 conditional explode (cve_manager.py:285-317): children-path vs "
    "direct-path union becomes CASE over arrays + one explode.",
)
def explode_conditional(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    arr = F.when(F.col("n_chars") < 200, F.split("text", " ")).otherwise(F.array(F.lit("<LONG>")))
    return docs.select("doc_id", F.explode(arr).alias("token"))


# ---------------------------------------------------------------------------
# §2.5 joins
# ---------------------------------------------------------------------------

@_register(
    "join_inner_view",
    "SELECT o.o_orderkey, o.o_orderdate, o.o_totalprice, l.l_linenumber, l.l_extendedprice "
    "FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderstatus = 'O'",
    doc="J1 the cvss_vs_cpes view join (cve_manager.py:79-90): inner equi-join + "
    "equality filter, projected. Shuffle on the join key only; AQE picks "
    "broadcast vs sort-merge by runtime stats.",
)
def join_inner_view(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey, "inner")
        .where(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_orderdate", "o_totalprice", "l_linenumber", "l_extendedprice")
    )


@_register(
    "join_left_lookup",
    "SELECT c_custkey, c_name, n_name FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey",
    doc="J2 lookup join (cve_manager.py:415-423): the reference's N+1 per-row "
    "point-query loop becomes one broadcast left join — the dim side ships "
    "to every executor once, zero shuffle of the fact side.",
)
def join_left_lookup(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    return cust.join(
        F.broadcast(nation), cust.c_nationkey == nation.n_nationkey, "left"
    ).select("c_custkey", "c_name", "n_name")


@_register(
    "join_star_detail",
    "SELECT o_orderkey, c_name, n_name, r_name, o_totalprice FROM orders "
    "JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
    "JOIN region ON n_regionkey = r_regionkey WHERE o_orderstatus = 'F'",
    doc="J3 multi-table detail correlation (cve_manager.py:399-429): three "
    "sequential client queries become one star join; both dims broadcast.",
)
def join_star_detail(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    region = load_table(spark, sf, "region")
    return (
        orders.where(F.col("o_orderstatus") == "F")
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("o_orderkey", "c_name", "n_name", "r_name", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# §2.6 aggregates / windows / sorts / set ops (A* + X*)
# ---------------------------------------------------------------------------

@_register(
    "limit_1",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_orderkey LIMIT 1",
    doc="A1 fetchone (cve_manager.py:401) made deterministic: total order then "
    "LIMIT 1 (documented deviation from the reference's arbitrary row pick).",
)
def limit_1(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return orders.orderBy("o_orderkey").select("o_orderkey", "o_totalprice").limit(1)


@_register(
    "agg_count",
    "SELECT COUNT(*) AS n FROM lineitem",
    doc="A2 count (cve_manager.py:243 prints a header field instead; here a real "
    "distributed count with map-side partials).",
)
def agg_count(spark: SparkSession, sf: str) -> DataFrame:
    return load_table(spark, sf, "lineitem").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "union_all",
    "SELECT o_orderkey AS key, o_totalprice AS amount FROM orders WHERE o_orderstatus = 'F' "
    "UNION ALL SELECT l_orderkey AS key, l_extendedprice AS amount FROM lineitem WHERE l_quantity >= 49",
    doc="S4/A4 bag union across inputs (cve_manager.py:245 list concat across "
    "yearly feeds): UNION ALL, duplicates kept, no shuffle.",
)
def union_all(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    a = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderkey").alias("key"), F.col("o_totalprice").alias("amount")
    )
    b = li.where(F.col("l_quantity") >= 49).select(
        F.col("l_orderkey").alias("key"), F.col("l_extendedprice").alias("amount")
    )
    return a.unionByName(b)


_Q1_ORACLE = """
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
  CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (1 - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
  COUNT(*) AS count_order
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


@_register(
    "agg_groupby",
    _Q1_ORACLE,
    doc="X1 hash aggregate with group-by (TPC-H Q1 shape). Exact-decimal sums "
    "→ order-independent, cluster-deterministic; partial aggregation map-side.",
)
def agg_groupby(spark: SparkSession, sf: str) -> DataFrame:
    # No fan_out: a partial-aggregating groupBy ships only per-task
    # partials, so round-robining 600k raw rows first costs more than the
    # single-core decode it parallelizes (measured 1.47s vs 0.90s at
    # sf0.1). fan_out stays reserved for compute-heavy narrow operators
    # (shingling, hashing) where per-row work dominates the exchange.
    li = load_table(spark, sf, "lineitem")
    disc_price = dec(F.col("l_extendedprice")) * (F.lit(1) - dec(F.col("l_discount")))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        dec_sum(F.col("l_quantity")).alias("sum_qty"),
        dec_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.round(F.sum(disc_price), 2).cast("double").alias("sum_disc_price"),
        (F.sum(dec(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
        F.count(F.lit(1)).alias("count_order"),
    )


@_register(
    "agg_distinct",
    "SELECT COUNT(DISTINCT l_partkey) AS n_parts, COUNT(DISTINCT l_suppkey) AS n_supps FROM lineitem",
    doc="X2 distinct aggregation (expand + two-phase distinct count).",
)
def agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
    )


@_register(
    "agg_rollup",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    doc="X4 rollup (grouping sets).",
)
def agg_rollup(spark: SparkSession, sf: str) -> DataFrame:
    # no fan_out before a partial-aggregating rollup (see agg_groupby)
    li = load_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dec_sum(F.col("l_quantity")).alias("sum_qty")
    )


@_register(
    "agg_conditional",
    "SELECT l_returnflag, "
    "CAST(SUM(CASE WHEN l_quantity >= 25 THEN CAST(l_extendedprice AS DECIMAL(18,4)) "
    "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) AS high_qty_rev, "
    "COUNT(CASE WHEN l_discount > 0.05 THEN 1 END) AS n_discounted "
    "FROM lineitem GROUP BY l_returnflag",
    doc="X9 conditional aggregation (CASE inside SUM/COUNT).",
)
def agg_conditional(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    zero = F.lit(0).cast("decimal(18,4)")
    return li.groupBy("l_returnflag").agg(
        F.sum(F.when(F.col("l_quantity") >= 25, dec(F.col("l_extendedprice"))).otherwise(zero))
        .cast("double")
        .alias("high_qty_rev"),
        F.count(F.when(F.col("l_discount") > 0.05, F.lit(1))).alias("n_discounted"),
    )


@_register(
    "window_rank",
    "SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM ("
    "SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) t WHERE rn <= 3",
    doc="X5 top-N per group via ranking window; deterministic tie-break on the "
    "unique key. One shuffle on the partition key.",
)
def window_rank(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.select(
            "o_orderpriority", "o_orderkey", "o_totalprice", F.row_number().over(w).cast("bigint").alias("rn")
        )
        .where(F.col("rn") <= 3)
    )


@_register(
    "window_running",
    "SELECT o_custkey, o_orderkey, "
    "LAG(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_order, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (PARTITION BY o_custkey "
    "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) "
    "AS running_spend FROM orders",
    doc="X6 analytic window: running sum + lag, exact decimal accumulation.",
)
def window_running(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.sum(dec(F.col("o_totalprice"))).over(wsum).cast("double").alias("running_spend"),
    )


@_register(
    "sort_topk",
    "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem "
    "ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10",
    doc="X7 global top-k: Spark plans TakeOrderedAndProject (per-partition heap "
    "+ driver merge of k·p rows) — no global sort even at 100 TB.",
)
def sort_topk(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return (
        li.select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber")
        .limit(10)
    )


@_register(
    "set_ops",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F' "
    "INTERSECT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'",
    doc="X8 set intersection (distinct semantics both engines).",
)
def set_ops(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.where(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return a.intersect(b)


# ---------------------------------------------------------------------------
# Coverage extensions beyond the reference (SURVEY §2.5 absent-join note,
# §2.6 X-table): semi/anti joins, cube, pivot, stats, range-predicate join.
# ---------------------------------------------------------------------------

@_register(
    "join_semi",
    "SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
    "(SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')",
    doc="Left-semi join (existence): customers having at least one 'F' order. "
    "Semi joins ship only the key column of the probe side — at scale the "
    "build side reduces to a distinct-key exchange.",
)
def join_semi(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    f_orders = orders.where(F.col("o_orderstatus") == "F")
    return cust.join(
        f_orders, cust.c_custkey == f_orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@_register(
    "join_anti",
    "SELECT c_custkey, c_name FROM customer WHERE NOT EXISTS "
    "(SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderpriority = '1-URGENT')",
    doc="Left-anti join (absence): customers with no URGENT orders — the "
    "filtered build side keeps the result non-trivial at every scale "
    "factor (an unfiltered anti join is empty: every customer has orders).",
)
def join_anti(spark: SparkSession, sf: str) -> DataFrame:
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    urgent = orders.where(F.col("o_orderpriority") == "1-URGENT")
    return cust.join(
        urgent, cust.c_custkey == urgent.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@_register(
    "join_range_pred",
    "SELECT o.o_orderkey, l.l_linenumber, o.o_orderdate, l.l_shipdate "
    "FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate >= o.o_orderdate "
    "AND l.l_shipdate < o.o_orderdate + INTERVAL 30 DAY",
    doc="Equi+range join: lineitems shipped within 30 days of their order. "
    "The equi key carries the shuffle; the range predicate evaluates "
    "post-match (no quadratic blowup).",
)
def join_range_pred(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 30 DAY"))
    )
    return orders.join(li, cond).select(
        "o_orderkey", "l_linenumber", "o_orderdate", "l_shipdate"
    )


@_register(
    "agg_cube",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n "
    "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)",
    doc="X4 cube: all grouping-set combinations.",
)
def agg_cube(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n"))


@_register(
    "agg_stats",
    "SELECT event_type, COUNT(*) AS n, "
    "MIN(value) AS min_v, MAX(value) AS max_v, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value) AS avg_v "
    "FROM events GROUP BY event_type",
    doc="Basic stats per key; avg via exact-decimal sum (order-independent).",
)
def agg_stats(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
        (F.sum(dec(F.col("value"))).cast("double") / F.count("value")).alias("avg_v"),
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_register(
    "agg_pivot",
    "SELECT user_id, "
    + ", ".join(
        f"COUNT(CASE WHEN event_type = '{t}' THEN 1 END) AS {t}" for t in _PIVOT_TYPES
    )
    + " FROM events GROUP BY user_id",
    doc="Pivot (wide aggregation): per-user counts by event type. Explicit "
    "value list → single-pass plan, no extra distinct-values job.",
)
def agg_pivot(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, _PIVOT_TYPES)
    )


@_register(
    "agg_approx_distinct",
    None,
    doc="X3 approx count-distinct (HLL++): rows-only check — the estimate is "
    "engine-specific by design; exactness is covered by agg_distinct.",
)
def agg_approx_distinct(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
    )


@_register(
    "agg_hll_mergeable",
    None,
    doc="X3 scale path made explicit: Apache DataSketches HLL with the "
    "MERGE step in the query — per-event-type sketches union into the "
    "global cardinality WITHOUT re-touching rows. This is the sketch "
    "property that matters at 100 TB: shard/partition/day-grain "
    "sketches are tiny (2^lgk registers), persistable, and re-"
    "aggregable along any rollup, so 'distinct users per X' for every "
    "X costs one fact pass total. Output carries the merged estimate, "
    "the direct single-pass estimate, and the exact count; "
    "tests/test_sketches.py pins merged == direct (HLL union is "
    "lossless at equal lgConfigK — register-wise max) and the ±5% "
    "accuracy envelope vs exact. Rows-only: estimates are library-"
    "specific by design; exactness is agg_distinct's job.",
)
def agg_hll_mergeable(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    shard = ev.groupBy("event_type").agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = shard.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    direct = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est_direct"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return merged.crossJoin(direct).select(
        "est_merged",
        "est_direct",
        "exact_users",
        (F.col("est_merged") == F.col("est_direct")).alias("merge_lossless"),
    )


@_register(
    "window_ntile",
    "SELECT o_orderkey, o_orderpriority, o_totalprice, "
    "NTILE(4) OVER (PARTITION BY o_orderpriority "
    "ORDER BY o_totalprice DESC, o_orderkey) AS quartile "
    "FROM orders",
    doc="X5 variant: ntile bucketing into price quartiles WITHIN each "
    "order priority. Partitioned on o_orderpriority so the sort is "
    "per-partition (hash exchange, no single-partition global sort — the "
    "r1 form was flagged as a scale hazard). Global quantile cuts at "
    "100 TB are the approx_percentile path, not a total-order window.",
)
def window_ntile(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
    )


@_register(
    "set_except",
    "SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F' "
    "EXCEPT SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'P'",
    doc="X8 set difference (distinct semantics).",
)
def set_except(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    a = orders.where(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    b = orders.where(F.col("o_orderstatus") == "P").select(F.col("o_custkey").alias("custkey"))
    return a.subtract(b)


@_register(
    "agg_salted",
    "SELECT l_returnflag, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty, "
    "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
    doc="Skew-safe two-phase aggregation (operators.skew.salted_agg): "
    "groupBy(key, salt) partials then groupBy(key) combine. The oracle is "
    "the PLAIN aggregation — salting must be result-invariant, and with "
    "exact-decimal sums the match is bitwise. Deterministic salt (hash of "
    "a unique column, not rand()) keeps retries/speculation safe.",
)
def agg_salted(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.skew import salted_agg

    li = load_table(spark, sf, "lineitem")
    out = salted_agg(
        li.withColumn("__rowid", F.concat_ws("-", "l_orderkey", "l_linenumber")),
        keys=["l_returnflag"],
        unique_col="__rowid",
        aggs={
            "sum_qty_dec": lambda: F.sum(dec(F.col("l_quantity"))),
            "n": lambda: F.count(F.lit(1)),
        },
        buckets=16,
    )
    return out.select(
        "l_returnflag", F.col("sum_qty_dec").cast("double").alias("sum_qty"), "n"
    )


_CDC_ORACLE = """
WITH changes AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice * 1.1 AS o_totalprice,
         o_orderdate, o_orderpriority, 2 AS version
  FROM orders WHERE o_orderstatus = 'P'
), unioned AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, 1 AS version FROM orders
  UNION ALL SELECT * FROM changes
)
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       o_orderpriority, version
FROM unioned
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY version DESC) = 1
"""


@_register(
    "cdc_upsert",
    _CDC_ORACLE,
    doc="CDC upsert / MERGE-INTO emulation without a table format: union "
    "base + change batch, keep the highest-version row per key via a "
    "ranking window (the anti-join+union+window recipe; with Delta/Iceberg "
    "this is a real MERGE with file skipping). Here 'P'-status orders get "
    "a 10% price update.",
)
def cdc_upsert(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    base = orders.withColumn("version", F.lit(1))
    changes = (
        orders.where(F.col("o_orderstatus") == "P")
        .withColumn("o_totalprice", F.col("o_totalprice") * 1.1)
        .withColumn("version", F.lit(2))
    )
    unioned = base.unionByName(changes)
    w = Window.partitionBy("o_orderkey").orderBy(F.col("version").desc())
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


@_register(
    "unpivot_melt",
    "SELECT l_orderkey, l_linenumber, measure, val FROM lineitem "
    "UNPIVOT (val FOR measure IN (l_quantity, l_extendedprice, l_discount))",
    doc="Unpivot/melt (wide→long reshape): three measure columns become "
    "(measure, val) rows — the inverse of agg_pivot. Narrow op, output "
    "3× rows, no shuffle.",
)
def unpivot_melt(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@_register(
    "explode_outer_nulls",
    "WITH t AS (SELECT doc_id, n_chars, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks "
    "FROM documents) "
    "SELECT doc_id, unnest(CASE WHEN n_chars >= 300 OR len(toks) = 0 "
    "THEN [CAST(NULL AS VARCHAR)] ELSE toks END) AS token FROM t",
    doc="explode_outer: rows with an empty/absent array survive with a NULL "
    "element instead of disappearing — the left-join flavor of E1 (long "
    "docs here stand in for the empty-array case). The oracle states the "
    "full explode_outer contract: an empty token list ALSO yields one NULL "
    "row (a zero-token short doc would otherwise hash-mismatch).",
)
def explode_outer_nulls(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    from cve_manager_spark.operators.text import words

    arr = F.when(
        F.col("n_chars") < 300, words(F.lower(F.col("text")))
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.explode_outer(arr).alias("token"))


@_register(
    "agg_approx_percentile",
    None,
    doc="X3 companion: approx_percentile (t-digest-style sketch) — the "
    "at-scale quantile path. Rows-only: sketch estimates are "
    "engine-specific; exactness is covered by agg_percentile.",
)
def agg_approx_percentile(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, 1000).alias("p50_approx"),
        F.percentile_approx("l_extendedprice", 0.99, 1000).alias("p99_approx"),
    )


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# cume_dist analytic face
# ---------------------------------------------------------------------------


@_register(
    "window_cume_dist",
    """
SELECT s.s_suppkey, n.n_name,
       cume_dist() OVER (PARTITION BY s.s_nationkey ORDER BY s.s_acctbal)
         AS cd,
       CAST(RANK() OVER (PARTITION BY s.s_nationkey ORDER BY s.s_acctbal)
            AS BIGINT) AS rnk
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
""",
    doc="cume_dist analytic face — the last ranking-window function "
    "family member not yet verified (rank/dense_rank/ntile/"
    "percent_rank are green): each supplier's cumulative account-"
    "balance position within its nation, peers-inclusive. cume_dist = "
    "c/n is ONE IEEE division of two exact small integers, identical "
    "across engines — no rounding recipe needed; rank rides along as "
    "the tie witness. One nation-partitioned window sort over a "
    "broadcast-joined 25-row nation dim.",
)
def window_cume_dist(spark: SparkSession, sf: str) -> DataFrame:
    su = load_table(spark, sf, "supplier")
    na = load_table(spark, sf, "nation")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal")
    return (
        su.join(F.broadcast(na), su["s_nationkey"] == na["n_nationkey"])
        .select(
            "s_suppkey",
            "n_name",
            F.cume_dist().over(w).alias("cd"),
            F.rank().over(w).cast("bigint").alias("rnk"),
        )
    )
