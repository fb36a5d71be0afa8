"""Deterministic sketch accuracy audits and bounded time-series
decomposition — the capacity-planning layer for streaming aggregation
at 100 TB (staged as the round-10c tranche; renamed to its content).

Production pipelines run CountMin / Bloom / linear-counting sketches
because exact state does not fit; the engineering question is always
"what error at what width?". Library sketches hash with private seeds,
so their answers are rows-only. These specs rebuild each sketch from
md5 — the one digest both engines share bit-for-bit — so the ESTIMATES
themselves hash-verify against DuckDB, and the audit (estimate vs
exact, error by width) is a first-class hash-checked query instead of
a trust-me property. Same discipline the det-MinHash family
(minhash_estimate_error) established for Jaccard sketches.

Time-series faces run on the DAY-grain aggregate (bounded: the window
input is #days rows, never raw events), mirroring the
quality_score_deciles histogram-not-rows principle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# hex digit value of position p (1-based) of md5(s) — the shared uniform
# hash both engines compute identically
def _hx_duck(s: str, p: int) -> str:
    return f"(strpos('0123456789abcdef', substr(md5({s}), {p}, 1)) - 1)"


def _hx_spark(s: str, p: int) -> str:
    return (
        f"(locate(substring(md5({s}), {p}, 1), '0123456789abcdef') - 1)"
    )


# ---------------------------------------------------------------------------
# CountMin sketch: estimate vs exact, and the width sweep
# ---------------------------------------------------------------------------

# d=4 rows x w=16 buckets over user_id event counts. Bucket of row r =
# first hex digit of md5('r:user_id'). Estimate(u) = min over rows of
# the bucket total. 16 buckets over ~15-150 users forces collisions, so
# the overestimate is non-trivial at both test scale factors.


def _cms_bucket_duck(r: int) -> str:
    return _hx_duck(f"CAST({r} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 1)


def _cms_bucket_spark(r: int) -> str:
    return _hx_spark(f"concat(cast({r} as string), ':', cast(user_id as string))", 1)


_CMS_ORACLE = f"""
WITH ue AS (
  SELECT user_id,
         {_cms_bucket_duck(0)} AS b0, {_cms_bucket_duck(1)} AS b1,
         {_cms_bucket_duck(2)} AS b2, {_cms_bucket_duck(3)} AS b3
  FROM events
), exact AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
         MIN(b0) AS b0, MIN(b1) AS b1, MIN(b2) AS b2, MIN(b3) AS b3
  FROM ue GROUP BY user_id
), t0 AS (SELECT b0, CAST(SUM(n) AS BIGINT) AS c FROM exact GROUP BY b0),
t1 AS (SELECT b1, CAST(SUM(n) AS BIGINT) AS c FROM exact GROUP BY b1),
t2 AS (SELECT b2, CAST(SUM(n) AS BIGINT) AS c FROM exact GROUP BY b2),
t3 AS (SELECT b3, CAST(SUM(n) AS BIGINT) AS c FROM exact GROUP BY b3)
SELECT e.user_id, e.n AS exact_n,
       CAST(LEAST(t0.c, t1.c, t2.c, t3.c) AS BIGINT) AS estimate,
       CAST(LEAST(t0.c, t1.c, t2.c, t3.c) - e.n AS BIGINT) AS overestimate
FROM exact e
JOIN t0 USING (b0) JOIN t1 USING (b1) JOIN t2 USING (b2) JOIN t3 USING (b3)
"""


@_register(
    "countmin_estimate_error",
    _CMS_ORACLE,
    doc="CountMin sketch accuracy audit, hash-checked end to end: a "
    "d=4 x w=16 CMS over per-user event counts built from md5 hex "
    "digits (the engine-shared hash family), per-user estimate = min "
    "of its 4 bucket totals, emitted next to the exact count and the "
    "overestimate (>= 0 by construction — CMS never undercounts). "
    "16 buckets force collisions at test scale so the error is real. "
    "Plan: one user-grain aggregate, four 16-row bucket totals "
    "broadcast back — the sketch state is O(d*w), the audit one "
    "exact pass; at 100 TB the sketch replaces the exact pass and "
    "this query is how its width gets chosen.",
)
def countmin_estimate_error(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    ev = load_table(spark, sf, "events")
    ue = ev.select(
        "user_id",
        *[
            F.expr(_cms_bucket_spark(r)).cast("int").alias(f"b{r}")
            for r in range(4)
        ],
    )
    # persist the key-grain relation: it feeds the 4 bucket-total
    # aggregates AND the final probe — without this each consumer
    # re-scans the raw events (5 full passes at 100 TB for one audit);
    # cached it is bounded by #keys (the kmeans_quantized precedent)
    exact = ue.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.min(f"b{r}").alias(f"b{r}") for r in range(4)],
    ).persist(StorageLevel.MEMORY_AND_DISK)
    out = exact
    for r in range(4):
        t = exact.groupBy(f"b{r}").agg(F.sum("n").alias(f"c{r}"))
        out = out.join(F.broadcast(t), f"b{r}")
    est = F.least(*[F.col(f"c{r}") for r in range(4)]).cast("bigint")
    return out.select(
        "user_id",
        F.col("n").cast("bigint").alias("exact_n"),
        est.alias("estimate"),
        (est - F.col("n")).cast("bigint").alias("overestimate"),
    )


def _cms_sweep_oracle() -> str:
    # one-row CMS error profile per width w in {16, 256}: sum and max of
    # per-user overestimates. w=16 = 1 hex digit, w=256 = 2 hex digits.
    def prof(w: int, digits: int) -> str:
        parts = []
        for r in range(4):
            key = f"CAST({r} AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
            expr = f"({_hx_duck(key, 1)})"
            if digits == 2:
                expr += f" * 16 + ({_hx_duck(key, 2)})"
            parts.append(f"{expr} AS b{r}")
        bkts = ", ".join(parts)
        return f"""(
  WITH ue AS (
    SELECT user_id, {bkts} FROM events
  ), exact AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(b0) AS b0, MIN(b1) AS b1, MIN(b2) AS b2, MIN(b3) AS b3
    FROM ue GROUP BY user_id
  ), t0 AS (SELECT b0, SUM(n) AS c FROM exact GROUP BY b0),
  t1 AS (SELECT b1, SUM(n) AS c FROM exact GROUP BY b1),
  t2 AS (SELECT b2, SUM(n) AS c FROM exact GROUP BY b2),
  t3 AS (SELECT b3, SUM(n) AS c FROM exact GROUP BY b3)
  SELECT {w} AS width, CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(LEAST(t0.c, t1.c, t2.c, t3.c) - e.n) AS BIGINT)
           AS sum_overestimate,
         CAST(MAX(LEAST(t0.c, t1.c, t2.c, t3.c) - e.n) AS BIGINT)
           AS max_overestimate
  FROM exact e
  JOIN t0 USING (b0) JOIN t1 USING (b1) JOIN t2 USING (b2) JOIN t3 USING (b3)
)"""

    return prof(16, 1) + "\nUNION ALL\n" + prof(256, 2)


@_register(
    "cms_width_sweep",
    _cms_sweep_oracle(),
    doc="CountMin capacity planning (the minhash_band_stats role for "
    "count sketches): total and worst per-key overestimate at width "
    "16 vs 256 (1 vs 2 md5 hex digits per bucket), d=4 rows each — "
    "the width-vs-error curve read before sizing sketch state for a "
    "stream. Wider must never be worse in sum (monotone by "
    "construction); the audit makes the improvement a number.",
)
def cms_width_sweep(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    ev = load_table(spark, sf, "events")

    def prof(width: int, digits: int) -> DataFrame:
        def bucket(r: int) -> F.Column:
            s = f"concat(cast({r} as string), ':', cast(user_id as string))"
            b = F.expr(_hx_spark(s, 1))
            if digits == 2:
                b = b * 16 + F.expr(_hx_spark(s, 2))
            return b.cast("int")

        ue = ev.select(
            "user_id", *[bucket(r).alias(f"b{r}") for r in range(4)]
        )
        # same persist rationale as countmin_estimate_error: 5 consumers
        # per width profile, bounded key-grain cache instead of rescans
        exact = ue.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.min(f"b{r}").alias(f"b{r}") for r in range(4)],
        ).persist(StorageLevel.MEMORY_AND_DISK)
        out = exact
        for r in range(4):
            t = exact.groupBy(f"b{r}").agg(F.sum("n").alias(f"c{r}"))
            out = out.join(F.broadcast(t), f"b{r}")
        over = F.least(*[F.col(f"c{r}") for r in range(4)]) - F.col("n")
        return out.groupBy().agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(over).cast("bigint").alias("sum_overestimate"),
            F.max(over).cast("bigint").alias("max_overestimate"),
        ).select(
            F.lit(width).cast("int").alias("width"),
            "n_keys",
            "sum_overestimate",
            "max_overestimate",
        )

    return prof(16, 1).unionByName(prof(256, 2))


# ---------------------------------------------------------------------------
# Bloom filter false-positive audit + linear-counting occupancy
# ---------------------------------------------------------------------------

_BLOOM_ORACLE = f"""
WITH members AS (
  SELECT DISTINCT user_id FROM events
), mk AS (
  SELECT user_id, unnest([0, 1, 2]) AS k FROM members
), bits AS (
  SELECT DISTINCT
         ({_hx_duck("CAST(k AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 1)}) * 16
       + ({_hx_duck("CAST(k AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)", 2)}) AS b
  FROM mk
), ck AS (
  SELECT c.cand, kk.k
  FROM (SELECT unnest(range(100000, 101000)) AS cand) c
  CROSS JOIN (SELECT unnest([0, 1, 2]) AS k) kk
), pr AS (
  SELECT cand,
         ({_hx_duck("CAST(k AS VARCHAR) || ':' || CAST(cand AS VARCHAR)", 1)}) * 16
       + ({_hx_duck("CAST(k AS VARCHAR) || ':' || CAST(cand AS VARCHAR)", 2)}) AS b
  FROM ck
), hitcount AS (
  SELECT pr.cand,
         CAST(SUM(CASE WHEN bits.b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_set
  FROM pr LEFT JOIN bits ON pr.b = bits.b
  GROUP BY pr.cand
)
SELECT CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
       CAST((SELECT COUNT(*) FROM bits) AS BIGINT) AS n_bits_set,
       CAST(COUNT(*) AS BIGINT) AS n_tested,
       CAST(SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
       CAST(SUM(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS fp_ppm
FROM hitcount
"""


@_register(
    "bloom_fp_audit",
    _BLOOM_ORACLE,
    doc="Bloom-filter false-positive audit, hash-checked: a 256-bit "
    "filter with 3 md5-derived probes per key is built over the "
    "member set (distinct users), then probed with 1000 known "
    "NON-members (ids 100000..100999, disjoint from the key space) — "
    "the measured fp_ppm is the number the (m, k) sizing formula "
    "promises, made auditable. The filter state is the distinct-bit "
    "relation (<= 256 rows, broadcast); the probe side is a generated "
    "spine, so the only data-sized work is the distinct-member pass.",
)
def bloom_fp_audit(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    members = ev.select("user_id").distinct()
    ks = spark.range(0, 3).select(F.col("id").cast("int").alias("k"))

    def bit(kexpr: str, key: str) -> F.Column:
        s = f"concat(cast({kexpr} as string), ':', cast({key} as string))"
        return (
            F.expr(_hx_spark(s, 1)) * 16 + F.expr(_hx_spark(s, 2))
        ).cast("int")

    bits = (
        members.crossJoin(F.broadcast(ks))
        .select(bit("k", "user_id").alias("b"))
        .distinct()
    )
    cands = spark.range(100000, 101000).select(F.col("id").alias("cand"))
    pr = cands.crossJoin(F.broadcast(ks)).select(
        "cand", bit("k", "cand").alias("b")
    )
    hit = pr.join(
        F.broadcast(bits.withColumn("set1", F.lit(1))), "b", "left"
    ).groupBy("cand").agg(
        F.sum(F.coalesce("set1", F.lit(0))).alias("n_set")
    )
    n_members = members.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    n_bits = bits.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bits_set")
    )
    fp = F.when(F.col("n_set") == 3, 1).otherwise(0)
    agg = hit.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tested"),
        F.sum(fp).cast("bigint").alias("n_fp"),
        F.expr(
            "CAST(sum(CASE WHEN n_set = 3 THEN 1 ELSE 0 END) * 1000000 "
            "div count(1) AS BIGINT)"
        ).alias("fp_ppm"),
    )
    return (
        agg.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select("n_members", "n_bits_set", "n_tested", "n_fp", "fp_ppm")
    )


_LINEAR_ORACLE = f"""
WITH m AS (
  SELECT event_type, user_id,
         ({_hx_duck("CAST(user_id AS VARCHAR)", 1)}) * 16
       + ({_hx_duck("CAST(user_id AS VARCHAR)", 2)}) AS b
  FROM events
)
SELECT event_type,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct,
       CAST(COUNT(DISTINCT b) AS BIGINT) AS occupied,
       CAST(256 - COUNT(DISTINCT b) AS BIGINT) AS empty_buckets
FROM m GROUP BY event_type
"""


@_register(
    "distinct_bucket_occupancy",
    _LINEAR_ORACLE,
    doc="Linear-counting inputs per event_type: occupancy of a 256-"
    "bucket md5 bitmap over user ids next to the exact distinct count "
    "— the estimator n-hat = -m*ln(V/m) stays OUT of the engine (ln "
    "is the one non-auditable step), so what the driver hashes is the "
    "exact integer state a streaming cardinality monitor would "
    "actually ship. The bitmap is 256 ints per group; only the "
    "distinct pass touches data scale.",
)
def distinct_bucket_occupancy(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    b = (
        F.expr(_hx_spark("cast(user_id as string)", 1)) * 16
        + F.expr(_hx_spark("cast(user_id as string)", 2))
    ).cast("int")
    m = ev.select("event_type", "user_id", b.alias("b"))
    return m.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_distinct"),
        F.countDistinct("b").cast("bigint").alias("occupied"),
        (256 - F.countDistinct("b")).cast("bigint").alias("empty_buckets"),
    )


# ---------------------------------------------------------------------------
# bounded time-series faces over the day-grain aggregate
# ---------------------------------------------------------------------------

_SEASONAL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day
), win AS (
  SELECT day, n,
         CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS trend_sum,
         CAST(COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
              AS BIGINT) AS w
  FROM daily
), full7 AS (
  -- DuckDB dayofweek is Sunday=0..Saturday=6; Spark's is Sunday=1..7 —
  -- +1 aligns them
  SELECT day, CAST(dayofweek(day) + 1 AS INTEGER) AS dow,
         7 * n - trend_sum AS resid_x7
  FROM win WHERE w = 7
)
SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(resid_x7) AS BIGINT) AS resid_x7_sum,
       CAST(SUM(resid_x7) * 1000 // (7 * COUNT(*)) AS BIGINT)
         AS seasonal_milli
FROM full7 GROUP BY dow
"""


@_register(
    "seasonal_decompose_dow",
    _SEASONAL_ORACLE,
    doc="Day-of-week seasonal decomposition of the daily event count: "
    "trend = centered 7-day moving sum (full windows only), residual "
    "carried as 7*n - trend_sum so it stays an exact integer (no "
    "float mean), seasonal = per-DOW mean residual in milli-events "
    "via trunc div. The windows run over the DAY-grain aggregate — "
    "bounded by #days, the histogram-not-rows discipline — so the "
    "decomposition costs one event scan plus day-relation math. "
    "Spark dayofweek == DuckDB dayofweek + 1 handled by the shared "
    "1..7 Sunday-first convention (both emit Sunday=1).",
)
def seasonal_decompose_dow(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    win = daily.select(
        "day",
        "n",
        F.sum("n").over(w7).alias("trend_sum"),
        F.count(F.lit(1)).over(w7).alias("w"),
    )
    full7 = win.where(F.col("w") == 7).select(
        F.dayofweek("day").cast("int").alias("dow"),
        (7 * F.col("n") - F.col("trend_sum")).alias("resid_x7"),
    )
    return full7.groupBy("dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("resid_x7").cast("bigint").alias("resid_x7_sum"),
        F.expr(
            "CAST(sum(resid_x7) * 1000 div (7 * count(1)) AS BIGINT)"
        ).alias("seasonal_milli"),
    )


_ROLLMED_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY day
), win AS (
  SELECT day, n,
         list_sort(list(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING
                                 AND CURRENT ROW)) AS vals
  FROM daily
)
SELECT day, n, CAST(len(vals) AS BIGINT) AS w,
       CAST(CASE WHEN len(vals) % 2 = 1
            THEN 2 * vals[(len(vals) + 1) // 2]
            ELSE vals[len(vals) // 2] + vals[len(vals) // 2 + 1]
            END AS BIGINT) AS median_x2
FROM win
"""


@_register(
    "rolling_7d_median_events",
    _ROLLMED_ORACLE,
    doc="Trailing-7-day rolling MEDIAN of the daily event count — the "
    "robust anomaly baseline next to wma_trailing's mean: the in-"
    "window values collect into an array over the day-grain relation "
    "(bounded by #days; the collected list is sorted in-row, so its "
    "nondeterministic build order cannot leak), and the median is "
    "emitted doubled (median_x2) so even windows stay exact integers "
    "instead of a .5 float.",
)
def rolling_7d_median_events(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w7 = Window.orderBy("day").rowsBetween(-6, 0)
    win = daily.select(
        "day", "n", F.array_sort(F.collect_list("n").over(w7)).alias("vals")
    )
    # integer div for the rank index — a / on Columns is double division
    med2 = F.expr(
        "CAST(CASE WHEN size(vals) % 2 = 1 "
        "THEN 2 * element_at(vals, CAST((size(vals) + 1) div 2 AS INT)) "
        "ELSE element_at(vals, CAST(size(vals) div 2 AS INT)) "
        "   + element_at(vals, CAST(size(vals) div 2 + 1 AS INT)) "
        "END AS BIGINT)"
    )
    return win.select(
        "day",
        F.col("n").cast("bigint").alias("n"),
        F.size("vals").cast("bigint").alias("w"),
        med2.alias("median_x2"),
    )


_DAU_JACCARD_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
), sz AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS n FROM du GROUP BY day
), inter AS (
  SELECT a.day AS day, CAST(COUNT(*) AS BIGINT) AS i
  FROM du a JOIN du b
    ON a.user_id = b.user_id AND b.day = a.day + 1
  GROUP BY a.day
)
SELECT s1.day, s1.n AS dau, s2.n AS dau_next,
       CAST(COALESCE(inter.i, 0) AS BIGINT) AS n_common,
       CAST(COALESCE(inter.i, 0) * 1000000
            // (s1.n + s2.n - COALESCE(inter.i, 0)) AS BIGINT) AS jaccard_ppm
FROM sz s1
JOIN sz s2 ON s2.day = s1.day + 1
LEFT JOIN inter ON inter.day = s1.day
"""


@_register(
    "dau_jaccard_consecutive",
    _DAU_JACCARD_ORACLE,
    doc="Day-over-day active-user-set Jaccard: for every consecutive "
    "day pair, |active(d) ∩ active(d+1)| / |union| in exact integer "
    "ppm — the churn-vs-stickiness series a stability monitor tracks "
    "(DAU/WAU says how many, this says WHICH fraction persists). The "
    "self-join rides the user key over the distinct (day,user) "
    "relation; day sizes join back on the bounded day spine.",
)
def dau_jaccard_consecutive(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    du = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    sz = du.groupBy("day").agg(F.count(F.lit(1)).alias("n"))
    b = du.select(F.date_sub("day", 1).alias("day"), "user_id")
    inter = (
        du.join(b, ["day", "user_id"])
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("i"))
    )
    s2 = sz.select(F.date_sub("day", 1).alias("day"), F.col("n").alias("n2"))
    j = (
        sz.join(s2, "day")
        .join(inter, "day", "left")
        .select(
            "day",
            F.col("n").cast("bigint").alias("dau"),
            F.col("n2").cast("bigint").alias("dau_next"),
            F.coalesce("i", F.lit(0)).cast("bigint").alias("n_common"),
        )
    )
    return j.withColumn(
        "jaccard_ppm",
        F.expr(
            "CAST(n_common * 1000000 div (dau + dau_next - n_common) "
            "AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# log2-bucket mergeable quantile sketch: estimate vs exact
# ---------------------------------------------------------------------------

# The quantile member of the sketch family (CMS = frequency, Bloom =
# membership, occupancy = cardinality): a KLL/t-digest stand-in whose
# state is the per-group histogram over log2 value buckets. Bucket of
# v = LENGTH(bin(v)) — the binary digit count, identical in both
# engines, no float log2 whose boundary rounding differs. Counts merge
# by SUM (associative + commutative), so the sketch is shard- and
# micro-batch-mergeable by construction; the streaming twin
# (streaming.sinks.foreach_batch_quantile_hist) maintains exactly this
# state. Estimate for quantile q = upper bound 2^b - 1 of the first
# bucket whose cumulative count reaches rank ceil(q*n), so est >= exact
# always and est/exact <= 2 (one bucket's width) — the audit prices
# that guarantee per event_type as exact integer ppm.

_LOGBUCKET_Q_ORACLE = """
WITH ev AS (
  SELECT event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS v FROM events
), vh AS (
  SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY event_type, v
), vr AS (
  SELECT event_type, v, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM vh
), exact AS (
  SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
         MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT) THEN v END) AS p50_exact,
         MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT) THEN v END) AS p90_exact,
         MIN(CASE WHEN cum >= CAST(CEIL(0.99 * n) AS BIGINT) THEN v END) AS p99_exact
  FROM vr GROUP BY event_type
), bh AS (
  SELECT event_type, CAST(LENGTH(bin(v)) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM ev GROUP BY event_type, LENGTH(bin(v))
), br AS (
  SELECT event_type, b, c,
         SUM(c) OVER (PARTITION BY event_type ORDER BY b) AS cum,
         SUM(c) OVER (PARTITION BY event_type) AS n
  FROM bh
), est AS (
  SELECT event_type,
         MIN(CASE WHEN cum >= CAST(CEIL(0.5 * n) AS BIGINT) THEN b END) AS b50,
         MIN(CASE WHEN cum >= CAST(CEIL(0.9 * n) AS BIGINT) THEN b END) AS b90,
         MIN(CASE WHEN cum >= CAST(CEIL(0.99 * n) AS BIGINT) THEN b END) AS b99
  FROM br GROUP BY event_type
)
SELECT x.event_type, x.n,
       x.p50_exact,
       (CAST(1 AS BIGINT) << e.b50) - 1 AS p50_est,
       CAST(((CAST(1 AS BIGINT) << e.b50) - 1) * 1000000
            // GREATEST(x.p50_exact, 1) AS BIGINT) AS p50_ratio_ppm,
       x.p90_exact,
       (CAST(1 AS BIGINT) << e.b90) - 1 AS p90_est,
       CAST(((CAST(1 AS BIGINT) << e.b90) - 1) * 1000000
            // GREATEST(x.p90_exact, 1) AS BIGINT) AS p90_ratio_ppm,
       x.p99_exact,
       (CAST(1 AS BIGINT) << e.b99) - 1 AS p99_est,
       CAST(((CAST(1 AS BIGINT) << e.b99) - 1) * 1000000
            // GREATEST(x.p99_exact, 1) AS BIGINT) AS p99_ratio_ppm
FROM exact x JOIN est e ON e.event_type = x.event_type
"""


def _rank_fold(xname: str):
    """Fold over a sorted (x, c) histogram picking the x at percentile-
    disc ranks ceil(p*n) for p in (0.5, 0.9, 0.99) — the single-pass
    codegen rank selection quantile_exact established.

    Built as ONE parsed expression: the Column-lambda form of this fold
    cost ~0.3 s of py4j round trips per call on the driver (guide §5).
    `0.5D` etc. are DOUBLE literals — identical to the previous
    F.lit(p) * n ranks (a bare 0.9 would parse as DECIMAL and round the
    rank product differently at the margin)."""

    def pick(q: str, p: str) -> str:
        return (
            f"coalesce(acc.{q}, CASE WHEN ceil({p}D * n) > acc.cum AND "
            f"ceil({p}D * n) <= acc.cum + s.c "
            f"THEN CAST(s.{xname} AS BIGINT) END) AS {q}"
        )

    return F.expr(
        "aggregate(array_sort(hist), "
        "struct(CAST(0 AS BIGINT) AS cum, CAST(NULL AS BIGINT) AS q50, "
        "CAST(NULL AS BIGINT) AS q90, CAST(NULL AS BIGINT) AS q99), "
        "(acc, s) -> struct(acc.cum + s.c AS cum, "
        f"{pick('q50', '0.5')}, {pick('q90', '0.9')}, {pick('q99', '0.99')}))"
    )


@_register(
    "logbucket_quantile_error",
    _LOGBUCKET_Q_ORACLE,
    doc="Mergeable quantile sketch accuracy audit, hash-checked end to "
    "end — the quantile member of the sketch family (CMS frequency, "
    "Bloom membership, occupancy cardinality, now quantiles): per "
    "event_type, p50/p90/p99 estimated from the <=64-counter log2-"
    "bucket histogram (bucket = LENGTH(bin(v)), engine-exact; estimate "
    "= bucket upper bound 2^b - 1, so estimate/exact <= 2 by "
    "construction) against the exact rank-selection quantile, error as "
    "exact integer ppm. Counts merge by SUM, so the same state is "
    "shard-parallel at 100 TB and micro-batch-mergeable in streaming "
    "(foreach_batch_quantile_hist is the twin); the sketch-side "
    "shuffle carries <=64 (type, bucket, count) triples per group "
    "regardless of row count. The exact side rides the domain-bounded "
    "(type, value) histogram, present only to price the error. "
    "Domain: milli-unit values must be non-negative (bin() of a "
    "negative long is 64-char two's complement); shift or clamp "
    "signed measures before sketching.",
)
def logbucket_quantile_error(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").select(
        "event_type",
        F.expr("CAST(FLOOR(value * 1000) AS BIGINT)").alias("v"),
    )
    vh = ev.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))

    ex = vh.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.collect_list(F.struct("v", "c")).alias("hist"),
    )
    fx = _rank_fold("v")
    exact = ex.select(
        "event_type",
        "n",
        fx.getField("q50").alias("p50_exact"),
        fx.getField("q90").alias("p90_exact"),
        fx.getField("q99").alias("p99_exact"),
    )

    bh = (
        vh.select(
            "event_type",
            F.length(F.bin("v")).cast("long").alias("b"),
            "c",
        )
        .groupBy("event_type", "b")
        .agg(F.sum("c").alias("c"))
    )
    es = bh.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n"),
        F.collect_list(F.struct("b", "c")).alias("hist"),
    )
    fb = _rank_fold("b")
    est = es.select(
        "event_type",
        fb.getField("q50").alias("b50"),
        fb.getField("q90").alias("b90"),
        fb.getField("q99").alias("b99"),
    )

    j = exact.join(est, "event_type")
    cols = ["event_type", "n"]
    for p in ("50", "90", "99"):
        e = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(b{p} AS INT)) - 1")
        cols += [
            F.col(f"p{p}_exact"),
            e.alias(f"p{p}_est"),
            F.expr(
                f"CAST((shiftleft(CAST(1 AS BIGINT), CAST(b{p} AS INT)) - 1) "
                f"* 1000000 div GREATEST(p{p}_exact, 1) AS BIGINT)"
            ).alias(f"p{p}_ratio_ppm"),
        ]
    return j.select(*cols)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) theta sketch: distinct-count SET OPERATIONS
# ---------------------------------------------------------------------------

# The set-operation face of cardinality sketching: HLL unions natively
# (agg_hll_mergeable) but its register hashing is library-private, so
# that audit is rows-only. KMV — keep the k smallest 60-bit md5 values;
# N-hat = (k-1) * 2^60 / theta_k; union = k smallest of the union of
# sketches; intersection via the inclusion fraction c/k_union scaled by
# the union estimate (Beyer et al., "On synopses for distinct-value
# estimation under multiset operations") — is built from the shared
# md5, so estimate AND error hash-verify exactly. A sketch that is not
# full (k_eff < k) holds its whole set and estimates exactly; the
# partially-filled denominators use k_eff for the same reason.

from cve_manager_spark.functions.helpers import (  # noqa: E402
    KMV_POW60 as _POW60,
    kmv_hash60 as _kmv_hash60,
    kmv_nhat_sql as _kmv_nhat_sql,
)

_KMV_K = 64

_KMV_ORACLE = f"""
WITH du AS (
  SELECT DISTINCT event_type,
         CAST(user_id AS VARCHAR) || ':' || CAST(CAST(ts AS DATE) AS VARCHAR) AS e
  FROM events WHERE event_type IN ('click', 'view')
), hs AS (
  SELECT DISTINCT event_type,
         CAST('0x' || substr(md5(e), 1, 15) AS BIGINT) AS h
  FROM du
), ak AS (SELECT h FROM hs WHERE event_type = 'click' ORDER BY h LIMIT {_KMV_K}),
bk AS (SELECT h FROM hs WHERE event_type = 'view' ORDER BY h LIMIT {_KMV_K}),
uk AS (
  SELECT h FROM (SELECT h FROM ak UNION SELECT h FROM bk) ORDER BY h LIMIT {_KMV_K}
), stats AS (
  SELECT
    (SELECT CAST(COUNT(*) AS BIGINT) FROM hs WHERE event_type = 'click') AS n_a_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM hs WHERE event_type = 'view') AS n_b_exact,
    (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM hs) AS n_union_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM
       (SELECT h FROM hs WHERE event_type = 'click'
        INTERSECT SELECT h FROM hs WHERE event_type = 'view')) AS n_inter_exact,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM ak) AS ka,
    (SELECT MAX(h) FROM ak) AS ta,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM bk) AS kb,
    (SELECT MAX(h) FROM bk) AS tb,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM uk) AS ku,
    (SELECT MAX(h) FROM uk) AS tu,
    (SELECT CAST(COUNT(*) AS BIGINT) FROM uk
      WHERE h IN (SELECT h FROM ak) AND h IN (SELECT h FROM bk)) AS c
), est AS (
  SELECT *,
    CAST(CASE WHEN ka < {_KMV_K} THEN ka
         ELSE CAST({_KMV_K - 1} AS HUGEINT) * {_POW60} // ta END AS BIGINT) AS est_a,
    CAST(CASE WHEN kb < {_KMV_K} THEN kb
         ELSE CAST({_KMV_K - 1} AS HUGEINT) * {_POW60} // tb END AS BIGINT) AS est_b,
    CAST(CASE WHEN ku < {_KMV_K} THEN ku
         ELSE CAST({_KMV_K - 1} AS HUGEINT) * {_POW60} // tu END AS BIGINT) AS est_union
  FROM stats
)
SELECT n_a_exact, est_a,
       CAST(est_a * 1000000 // GREATEST(n_a_exact, 1) AS BIGINT) AS err_a_ppm,
       n_b_exact, est_b,
       CAST(est_b * 1000000 // GREATEST(n_b_exact, 1) AS BIGINT) AS err_b_ppm,
       n_union_exact, est_union,
       CAST(est_union * 1000000 // GREATEST(n_union_exact, 1) AS BIGINT) AS err_union_ppm,
       n_inter_exact,
       CAST(c * CAST(est_union AS HUGEINT) // ku AS BIGINT) AS est_inter,
       CAST((c * CAST(est_union AS HUGEINT) // ku) * 1000000
            // GREATEST(n_inter_exact, 1) AS BIGINT) AS err_inter_ppm
FROM est
"""


@_register(
    "kmv_set_ops_error",
    _KMV_ORACLE,
    doc="KMV theta-sketch set operations, hash-checked end to end — the "
    "distinct-count face HLL cannot verify (library registers are "
    "seed-private; agg_hll_mergeable is rows-only): k=64 minimum "
    "60-bit md5 values per active-user-day set ('click' vs 'view'), "
    "N-hat = (k-1)*2^60/theta_k, union sketch = k smallest of the "
    "sketch union, intersection = inclusion fraction c/k_u scaled by "
    "the union estimate (Beyer et al.), each against its exact count "
    "with error in integer ppm. A not-full sketch holds its whole set "
    "and estimates exactly. At 100 TB the sketches are top-k over the "
    "distinct relation (TakeOrderedAndProject — per-partition top-k, "
    "never a global sort); everything after is 64-row arithmetic on "
    "1-row broadcast aggregates.",
)
def kmv_set_ops_error(spark: SparkSession, sf: str) -> DataFrame:
    k = _KMV_K
    ev = (
        load_table(spark, sf, "events")
        .where(F.col("event_type").isin("click", "view"))
        .select(
            "event_type",
            F.concat_ws(
                ":",
                F.col("user_id").cast("string"),
                F.col("ts").cast("date").cast("string"),
            ).alias("e"),
        )
        .distinct()
    )
    hs = ev.select(
        "event_type", _kmv_hash60(F.col("e")).alias("h")
    ).distinct()
    a = hs.where(F.col("event_type") == "click").select("h")
    b = hs.where(F.col("event_type") == "view").select("h")
    ak = a.orderBy("h").limit(k)
    bk = b.orderBy("h").limit(k)
    uk = ak.union(bk).distinct().orderBy("h").limit(k)

    one = lambda df, *cols: df.agg(*cols)  # noqa: E731 — 1-row aggregates
    row = (
        one(a, F.count(F.lit(1)).cast("bigint").alias("n_a_exact"))
        .crossJoin(one(b, F.count(F.lit(1)).cast("bigint").alias("n_b_exact")))
        .crossJoin(
            one(
                hs.select("h").distinct(),
                F.count(F.lit(1)).cast("bigint").alias("n_union_exact"),
            )
        )
        .crossJoin(
            one(
                a.join(b, "h"),
                F.count(F.lit(1)).cast("bigint").alias("n_inter_exact"),
            )
        )
        .crossJoin(
            one(
                ak,
                F.count(F.lit(1)).cast("bigint").alias("ka"),
                F.max("h").alias("ta"),
            )
        )
        .crossJoin(
            one(
                bk,
                F.count(F.lit(1)).cast("bigint").alias("kb"),
                F.max("h").alias("tb"),
            )
        )
        .crossJoin(
            one(
                uk,
                F.count(F.lit(1)).cast("bigint").alias("ku"),
                F.max("h").alias("tu"),
            )
        )
        .crossJoin(
            one(
                uk.join(ak, "h", "left_semi").join(bk, "h", "left_semi"),
                F.count(F.lit(1)).cast("bigint").alias("c"),
            )
        )
    )

    def nhat(k_eff: str, theta: str) -> str:
        return _kmv_nhat_sql(k_eff, theta, k)

    est = row.select(
        "*",
        F.expr(nhat("ka", "ta")).alias("est_a"),
        F.expr(nhat("kb", "tb")).alias("est_b"),
        F.expr(nhat("ku", "tu")).alias("est_union"),
    )
    err = lambda e, x: F.expr(  # noqa: E731
        f"CAST({e} * 1000000 div GREATEST({x}, 1) AS BIGINT)"
    )
    return est.select(
        "n_a_exact",
        "est_a",
        err("est_a", "n_a_exact").alias("err_a_ppm"),
        "n_b_exact",
        "est_b",
        err("est_b", "n_b_exact").alias("err_b_ppm"),
        "n_union_exact",
        "est_union",
        err("est_union", "n_union_exact").alias("err_union_ppm"),
        "n_inter_exact",
        F.expr(
            "CAST(c * CAST(est_union AS DECIMAL(38,0)) div ku AS BIGINT)"
        ).alias("est_inter"),
        F.expr(
            "CAST((c * CAST(est_union AS DECIMAL(38,0)) div ku) * 1000000 "
            "div GREATEST(n_inter_exact, 1) AS BIGINT)"
        ).alias("err_inter_ppm"),
    )


# ---------------------------------------------------------------------------
# walk-forward forecast backtest: seasonal-naive lag-7 on the daily series
# ---------------------------------------------------------------------------

_BACKTEST_ORACLE = """
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
), scored AS (
  SELECT a.event_type, a.day, a.n, p.n AS pred
  FROM daily a JOIN daily p
    ON p.event_type = a.event_type AND p.day = a.day - 7
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       CAST(SUM(ABS(n - pred)) AS BIGINT) AS sum_abs_err,
       CAST(SUM(ABS(n - pred)) * 1000 // COUNT(*) AS BIGINT) AS mae_milli,
       CAST(SUM(ABS(n - pred)) * 1000000 // SUM(n) AS BIGINT) AS wape_ppm
FROM scored GROUP BY event_type
"""


@_register(
    "seasonal_naive_backtest",
    _BACKTEST_ORACLE,
    doc="Walk-forward backtest of the seasonal-naive forecaster (predict "
    "day d by day d-7) on the per-type daily event series — the "
    "baseline every capacity-planning forecast must beat, and the "
    "backtest harness that scores it honestly: only days with a "
    "calendar lag-7 predecessor score (a row-lag would silently slip "
    "across gaps), absolute error stays integer, MAE in exact milli "
    "and WAPE in exact ppm (WAPE = sum|err|/sum(actual) divides ONCE "
    "at the end, unlike MAPE's per-day ratios which no integer "
    "arithmetic can hold). The join rides the day-grain aggregate — "
    "#days x #types rows, never events.",
)
def seasonal_naive_backtest(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pred = daily.select(
        "event_type",
        F.date_add("day", 7).alias("day"),
        F.col("n").alias("pred"),
    )
    scored = daily.join(pred, ["event_type", "day"])
    err = F.abs(F.col("n") - F.col("pred"))
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum(err).cast("bigint").alias("sum_abs_err"),
        F.expr(
            "CAST(sum(abs(n - pred)) * 1000 div count(*) AS BIGINT)"
        ).alias("mae_milli"),
        F.expr(
            "CAST(sum(abs(n - pred)) * 1000000 div sum(n) AS BIGINT)"
        ).alias("wape_ppm"),
    )
