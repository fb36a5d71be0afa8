"""Corpus profiling, feature engineering and analytics queries (round 2b).

The second tranche of training-data-platform operations: corpus
profiling, an inverted index, bigram association mining, blocked fuzzy
matching, trailing weighted features, numeric histograms, z-score
anomaly flags, cohort retention, exact-moment correlation/OLS, exact
median, journey first/last windows, token-budget mixture construction
and heavy-hitter skew diagnostics. Everything here
follows the determinism contract in plans/spec.py; the recurring trick
for derived floating-point columns is *exact-integer inputs + an
identical IEEE op tree in both engines* (each +,-,*,/ and sqrt is
correctly rounded, so the same expression over the same exact integers
is bitwise identical), with a final floor-quantization to integer
micro-units so nothing downstream depends on float rendering.

Priorities were collapsed to 0 in round 7 (r5 verdict #9) once the
backlog cleared; unverified specs are promoted by tier + stable module
order alone, and the local DuckDB replica gates every spec until the rotation reaches
them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.functions.helpers import dec_sum, fan_out
from cve_manager_spark.operators import text as T
from cve_manager_spark.plans.artifacts import scratch
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# ---------------------------------------------------------------------------
# corpus profiling
# ---------------------------------------------------------------------------

_PROFILE_ORACLE = """
SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(n_chars) AS min_chars,
       MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars
FROM documents GROUP BY source
"""


@_register(
    "corpus_profile",
    _PROFILE_ORACLE,
    doc="Per-source corpus profile: document count, language diversity and "
    "length stats — the first query run on any new crawl dump. One "
    "partial-aggregated hash aggregate keyed on source; avg is the exact "
    "bigint sum divided once (single IEEE rounding, engine-identical).",
)
def corpus_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
    )


_INVINDEX_ORACLE = """
WITH t AS (
  SELECT doc_id,
         unnest(list_distinct(list_filter(string_split_regex(lower(text), '\\s+'),
                                          x -> x <> ''))) AS token
  FROM documents
)
SELECT token, COUNT(*) AS dfreq,
       array_to_string(list_sort(array_agg(doc_id))[1:16], ',') AS postings_head
FROM t GROUP BY token
"""


@_register(
    "inverted_index",
    _INVINDEX_ORACLE,
    doc="Inverted index: token → document frequency + the first 16 postings "
    "(sorted doc_ids) — the retrieval-side artifact of a text corpus. "
    "Per-doc distinct happens before the explode so the aggregate is one "
    "shuffle keyed on token; the posting list is capped at the head, so a "
    "hot token ('the') costs a bounded row, not an unbounded collect — at "
    "100 TB full postings would additionally shard on (token, hash(doc) "
    "% k), which this head/cap structure composes with.",
)
def inverted_index(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    ex = docs.select(
        "doc_id",
        F.explode(F.array_distinct(T.words(F.lower(F.col("text"))))).alias("token"),
    )
    head = F.slice(F.array_sort(F.collect_list("doc_id")), 1, 16)
    return ex.groupBy("token").agg(
        F.count(F.lit(1)).alias("dfreq"),
        F.array_join(F.transform(head, lambda c: c.cast("string")), ",").alias(
            "postings_head"
        ),
    )


_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), uni AS (
  SELECT unnest(w) AS tok FROM toks
), un AS (
  SELECT tok, COUNT(*) AS n_tok FROM uni GROUP BY tok
), tot AS (
  SELECT CAST(SUM(n_tok) AS BIGINT) AS n_total FROM un
), bi AS (
  SELECT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> [w[i], w[i+1]])
    ELSE [] END) AS pair
  FROM toks
), bg AS (
  SELECT pair[1] AS w1, pair[2] AS w2, COUNT(*) AS n_ab
  FROM bi GROUP BY 1, 2 HAVING COUNT(*) >= 3
)
SELECT w1, w2, n_ab, a.n_tok AS n_a, b.n_tok AS n_b,
       CAST(FLOOR(((CAST(n_ab AS DOUBLE) * n_total) /
                   (CAST(a.n_tok AS DOUBLE) * b.n_tok)) * 1000000.0) AS BIGINT)
         AS lift_micro
FROM bg JOIN un a ON bg.w1 = a.tok JOIN un b ON bg.w2 = b.tok
CROSS JOIN tot
"""


@_register(
    "bigram_lift",
    _BIGRAM_ORACLE,
    doc="Bigram association mining: adjacent-token pair counts with a "
    "PMI-style lift score (n_ab·N / (n_a·n_b), floor-quantized to micro "
    "units — counts are exact ints, the score is one identical IEEE op "
    "tree in both engines). Collocation discovery for tokenizer/vocab "
    "work. The unigram table and the grand total are broadcast (vocab "
    "≪ corpus); the only data-sized shuffle is the bigram count itself, "
    "partial-aggregated map-side.",
)
def bigram_lift(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select(T.words(F.lower(F.col("text"))).alias("w"))
    uni = toks.select(F.explode("w").alias("tok"))
    un = uni.groupBy("tok").agg(F.count(F.lit(1)).alias("n_tok"))
    # grand total from the vocab-sized counts — not a third corpus pass
    tot = un.agg(F.sum("n_tok").alias("n_total"))
    pairs = toks.select(
        F.explode(
            F.when(
                F.size("w") >= 2,
                F.transform(
                    F.slice("w", 1, F.greatest(F.size("w") - 1, F.lit(0))),
                    lambda x, i: F.array(x, F.element_at(F.col("w"), i + 2)),
                ),
            ).otherwise(F.array().cast("array<array<string>>"))
        ).alias("pair")
    )
    bg = (
        pairs.select(F.col("pair")[0].alias("w1"), F.col("pair")[1].alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
    )
    a = un.select(F.col("tok").alias("w1"), F.col("n_tok").alias("n_a"))
    b = un.select(F.col("tok").alias("w2"), F.col("n_tok").alias("n_b"))
    j = (
        bg.join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .crossJoin(F.broadcast(tot))
    )
    lift = F.floor(
        (F.col("n_ab").cast("double") * F.col("n_total"))
        / (F.col("n_a").cast("double") * F.col("n_b"))
        * F.lit(1000000.0)
    )
    return j.select("w1", "w2", "n_ab", "n_a", "n_b", lift.alias("lift_micro"))


# ---------------------------------------------------------------------------
# fuzzy matching
# ---------------------------------------------------------------------------

_FUZZY_ORACLE = """
WITH p AS (
  SELECT p_partkey, p_brand, p_name,
         string_split(p_name, ' ')[1] AS w1, length(p_name) AS ln
  FROM part
)
SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist
FROM p a JOIN p b
  ON a.p_brand = b.p_brand AND a.w1 = b.w1 AND a.p_partkey < b.p_partkey
 AND abs(a.ln - b.ln) <= 4
 AND levenshtein(a.p_name, b.p_name) <= 4
"""


@_register(
    "fuzzy_pairs_levenshtein",
    _FUZZY_ORACLE,
    doc="Blocked fuzzy matching: near-identical part names by edit distance "
    "≤ 4, the entity-resolution primitive. The self-join is blocked on "
    "(brand, first token) so the quadratic term is confined to a block, "
    "and the cheap |len_a−len_b| ≤ 4 bound (a Levenshtein lower bound) "
    "prunes before the DP runs — the standard blocking+filter shape that "
    "keeps edit-distance matching feasible at corpus scale. JVM "
    "levenshtein, no Python.",
)
def fuzzy_pairs_levenshtein(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    p = part.select(
        "p_partkey",
        "p_brand",
        "p_name",
        F.split("p_name", " ").getItem(0).alias("w1"),
        F.length("p_name").alias("ln"),
    )
    a = p.select(*[F.col(c).alias(f"a_{c}") for c in p.columns])
    b = p.select(*[F.col(c).alias(f"b_{c}") for c in p.columns])
    cond = (
        (F.col("a_p_brand") == F.col("b_p_brand"))
        & (F.col("a_w1") == F.col("b_w1"))
        & (F.col("a_p_partkey") < F.col("b_p_partkey"))
        & (F.abs(F.col("a_ln") - F.col("b_ln")) <= 4)
        & (F.levenshtein(F.col("a_p_name"), F.col("b_p_name")) <= 4)
    )
    return a.join(b, cond).select(
        F.col("a_p_partkey").alias("key_a"),
        F.col("b_p_partkey").alias("key_b"),
        F.levenshtein(F.col("a_p_name"), F.col("b_p_name")).cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# event features / monitoring
# ---------------------------------------------------------------------------

_WMA_ORACLE = """
WITH v AS (
  SELECT event_id, user_id, ts,
         CAST(FLOOR(value * 1000) AS BIGINT) AS vm
  FROM events
), l AS (
  SELECT event_id, user_id, vm,
         LAG(vm, 1) OVER w AS l1, LAG(vm, 2) OVER w AS l2,
         LAG(vm, 3) OVER w AS l3
  FROM v WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       8 * vm + 4 * COALESCE(l1, 0) + 2 * COALESCE(l2, 0) + COALESCE(l3, 0)
         AS wma_num,
       8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
         + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
         + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END AS wma_den,
       CAST(FLOOR(CAST(8 * vm + 4 * COALESCE(l1, 0) + 2 * COALESCE(l2, 0)
                       + COALESCE(l3, 0) AS DOUBLE)
                  / (8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
                       + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
                       + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END))
            AS BIGINT) AS wma_milli
FROM l
"""


@_register(
    "wma_trailing",
    _WMA_ORACLE,
    doc="Trailing weighted moving average per user (weights 8/4/2/1 over the "
    "last 4 events, event-time order with event_id tie-break) — the "
    "time-decayed feature shape of online feature stores, in exact "
    "integer milli-units so the window math is engine- and order-exact "
    "(a true EWMA's running float sum is association-order-dependent; "
    "fixed integer weights are not). One partitioned window, three lags "
    "sharing its single sort.",
)
def wma_trailing(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vm = F.floor(F.col("value") * 1000).cast("long")
    base = ev.select("event_id", "user_id", "ts", vm.alias("vm"))
    l1, l2, l3 = (F.lag("vm", k).over(w) for k in (1, 2, 3))
    num = (
        8 * F.col("vm")
        + 4 * F.coalesce(l1, F.lit(0))
        + 2 * F.coalesce(l2, F.lit(0))
        + F.coalesce(l3, F.lit(0))
    )
    den = (
        F.lit(8)
        + F.when(l1.isNull(), 0).otherwise(4)
        + F.when(l2.isNull(), 0).otherwise(2)
        + F.when(l3.isNull(), 0).otherwise(1)
    )
    return base.select(
        "event_id",
        "user_id",
        num.alias("wma_num"),
        den.cast("int").alias("wma_den"),
        F.floor(num.cast("double") / den).cast("long").alias("wma_milli"),
    )


_ZSCORE_ORACLE = """
WITH v AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli
  FROM events
), s AS (
  SELECT event_type, COUNT(*) AS n,
         CAST(SUM(v_milli) AS BIGINT) AS s1,
         CAST(SUM(v_milli * v_milli) AS BIGINT) AS s2
  FROM v GROUP BY event_type
), z AS (
  SELECT event_id, v.event_type, v_milli,
         SQRT(GREATEST(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       0.0)) AS sd,
         CAST(s1 AS DOUBLE) / n AS mean
  FROM v JOIN s ON v.event_type = s.event_type
)
SELECT event_id, event_type, v_milli,
       CAST(FLOOR(((CAST(v_milli AS DOUBLE) - mean) / sd) * 1000000.0) AS BIGINT)
         AS z_micro
FROM z WHERE sd > 0 AND ABS((CAST(v_milli AS DOUBLE) - mean) / sd) > 1.5
"""


@_register(
    "anomaly_zscore",
    _ZSCORE_ORACLE,
    doc="Z-score outlier flags: events whose value sits >1.5σ from their "
    "type's mean — the monitoring/data-quality gate run over every "
    "ingest batch. Moments come from one partial-aggregated pass in "
    "exact integer milli-units (n, Σv, Σv²); mean/σ/z are then a single "
    "identical IEEE op tree, so the float math is bitwise reproducible "
    "and the emitted score is floor-quantized. The per-type stats row "
    "set is tiny and broadcast back onto the stream — no second shuffle.",
)
def anomaly_zscore(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    s = v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_milli").alias("s1"),
        F.sum(F.col("v_milli") * F.col("v_milli")).alias("s2"),
    )
    j = v.join(F.broadcast(s), "event_type")
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(
            F.col("s2").cast("double") / F.col("n") - mean * mean, F.lit(0.0)
        )
    )
    z = (F.col("v_milli").cast("double") - mean) / sd
    return (
        j.withColumn("sd", sd)
        .where((F.col("sd") > 0) & (F.abs(z) > 1.5))
        .select(
            "event_id",
            "event_type",
            "v_milli",
            F.floor(z * 1000000.0).cast("long").alias("z_micro"),
        )
    )


_RETENTION_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), c AS (
  SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY user_id
)
SELECT cohort_day, CAST(date_diff('day', cohort_day, day) AS INT) AS day_offset,
       COUNT(DISTINCT d.user_id) AS n_users
FROM d JOIN c ON d.user_id = c.user_id
WHERE date_diff('day', cohort_day, day) <= 14
GROUP BY 1, 2
"""


@_register(
    "retention_cohort",
    _RETENTION_ORACLE,
    doc="Cohort retention: users active N days after their first-seen day, "
    "bucketed by cohort (first 14 offsets) — the retention triangle of "
    "product analytics. Activity days are deduped first (distinct "
    "user/day ≪ raw events), the cohort map joins on the user_id both "
    "sides already shuffle on, and the final count-distinct collapses "
    "onto the tiny (cohort, offset) grid.",
)
def retention_cohort(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    c = d.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    j = d.join(c, "user_id")
    off = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        j.where(off <= 14)
        .groupBy("cohort_day", off.cast("int").alias("day_offset"))
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# numeric profiling / sampling
# ---------------------------------------------------------------------------

_HISTOGRAM_ORACLE = """
SELECT CAST(LEAST(19, CAST(FLOOR(o_totalprice / 30000.0) AS BIGINT)) AS INT)
         AS bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM orders GROUP BY 1
"""


@_register(
    "histogram_fixed",
    _HISTOGRAM_ORACLE,
    doc="Fixed-width histogram of order value (20 bins of 30k, top bin "
    "open) — numeric profiling for skew/drift checks before training. "
    "The bin id is a narrow map; one hash aggregate over ≤20 groups with "
    "map-side partials, decimal-exact totals, raw min/max (no float "
    "arithmetic, so engine-exact).",
)
def histogram_fixed(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    bucket = F.least(
        F.lit(19).cast("long"), F.floor(F.col("o_totalprice") / 30000.0)
    ).cast("int")
    return orders.groupBy(bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("o_totalprice")).alias("total"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


# ---------------------------------------------------------------------------
# statistical profiling (sufficient-statistics pattern)
# ---------------------------------------------------------------------------

_CORR_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag,
         CAST(l_quantity AS BIGINT) AS x,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS y
  FROM lineitem
), s AS (
  SELECT flag, COUNT(*) AS n,
         CAST(SUM(CAST(x AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS syy
  FROM v GROUP BY flag
)
SELECT flag, n,
       CAST(FLOOR(((n * sxy - sx * sy) /
                   (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)))
                  * 1000000.0) AS BIGINT) AS corr_micro,
       CAST(FLOOR(((n * sxy - sx * sy) / (n * sxx - sx * sx)) * 1000000.0)
            AS BIGINT) AS slope_micro
FROM s
"""


@_register(
    "corr_regress",
    _CORR_ORACLE,
    doc="Distributed OLS via sufficient statistics: per-group Pearson "
    "correlation and regression slope of price on quantity from ONE pass "
    "of six exact sums (n, Σx, Σy, Σxy, Σx², Σy² — inputs quantized to "
    "integer cents, sums carried as exact decimal so no float "
    "accumulation order exists to diverge). Spark's built-in corr() "
    "aggregates doubles and is not reproducible across partitionings; "
    "this shape is, at any cluster size, and the shuffle carries six "
    "numbers per group.",
)
def corr_regress(spark: SparkSession, sf: str) -> DataFrame:
    # no fan_out: six moment partials per task cross the shuffle either
    # way; round-robining the raw rows first only adds an exchange
    li = load_table(spark, sf, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.floor(F.col("l_extendedprice") * 100).cast("long")
    v = li.select(F.col("l_returnflag").alias("flag"), x.alias("x"), y.alias("y"))
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731 — exact wide product
    s = v.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("x"))).cast("double").alias("sx"),
        F.sum(d(F.col("y"))).cast("double").alias("sy"),
        F.sum(d(F.col("x")) * d(F.col("y"))).cast("double").alias("sxy"),
        F.sum(d(F.col("x")) * d(F.col("x"))).cast("double").alias("sxx"),
        F.sum(d(F.col("y")) * d(F.col("y"))).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "flag",
        "n",
        F.floor(corr * 1000000.0).cast("long").alias("corr_micro"),
        F.floor(slope * 1000000.0).cast("long").alias("slope_micro"),
    )


_MEDIAN_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
  FROM lineitem
)
SELECT flag, CAST(MAX(cnt) AS BIGINT) AS n,
       CAST(SUM(q * (CASE WHEN rn = (cnt + 1) // 2 THEN 1 ELSE 0 END
                     + CASE WHEN rn = (cnt + 2) // 2 THEN 1 ELSE 0 END))
            AS BIGINT) AS median_twice
FROM r GROUP BY flag
"""


def _rank_pick(lo, hi):
    """HOF fold over a sorted (value, count) histogram: sum of the values at
    ranks ``lo`` and ``hi`` (rank r falls in a bucket iff cum_prev < r <= cum).
    Returns a column expression usable after collect_list(struct(q, c))."""

    def merge(acc, x):
        in_lo = F.when((lo > acc.cum) & (lo <= acc.cum + x.c), 1).otherwise(0)
        in_hi = F.when((hi > acc.cum) & (hi <= acc.cum + x.c), 1).otherwise(0)
        return F.struct(
            (acc.cum + x.c).alias("cum"),
            (acc.res + x.q * (in_lo + in_hi)).alias("res"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("cum"), F.lit(0).cast("long").alias("res")
    )
    return F.aggregate(F.array_sort("hist"), init, merge, lambda acc: acc.res)


@_register(
    "median_exact",
    _MEDIAN_ORACLE,
    doc="Exact distributed median by histogram rank selection (r2 VERDICT "
    "'What's wrong' #1 re-plan): l_quantity has a tiny integer domain "
    "(50 values), so the median is computed from per-(flag, value) "
    "counts — a fully parallel partial+final hash aggregate — followed "
    "by an in-row codegen fold (array_sort + aggregate HOF) over the "
    "<=50-entry histogram that picks the values at ranks (n+1)/2 and "
    "(n+2)/2. Emitted as median×2 so the result stays an exact integer. "
    "ZERO window sorts: the old plan sorted a third of the fact table "
    "per flag in one task; this one shuffles only (flag, value, count) "
    "triples, so it is row-count-independent and survives 100 TB. The "
    "oracle still rank-selects over the raw rows — ties make the two "
    "formulations identical.",
)
def median_exact(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("flag", "q")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = h.groupBy("flag").agg(
        F.sum("c").alias("n"),
        F.collect_list(F.struct("q", "c")).alias("hist"),
    )
    lo = F.expr("(n + 1) div 2")
    hi = F.expr("(n + 2) div 2")
    return g.select("flag", "n", _rank_pick(lo, hi).alias("median_twice"))


@_register(
    "window_first_last",
    "SELECT event_id, user_id, "
    "first_value(event_type) OVER w AS first_type, "
    "last_value(event_type) OVER w AS last_type, "
    "nth_value(event_type, 2) OVER w AS second_type "
    "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)",
    doc="first/last/nth_value over the full per-user frame: every event "
    "annotated with its user's first, latest and second event type — the "
    "entry/exit-page shape of journey analytics. Explicit UNBOUNDED "
    "frame (the default frame would cut last_value at the current row); "
    "deterministic (ts, event_id) order; one partitioned window sort.",
)
def window_first_last(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


_MIX_ORACLE = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         md5(CAST(doc_id AS VARCHAR)) AS skey
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY source ORDER BY skey, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
FROM c WHERE cum - n_tokens < 500
"""


@_register(
    "mix_budget",
    _MIX_ORACLE,
    doc="Mixture construction under a token budget: each source contributes "
    "documents in deterministic md5 order until 500 tokens are reached "
    "(a doc is kept iff it STARTS under budget, so every source lands "
    "just over — the standard budgeted-sampling rule). This is the "
    "per-source quota step of building a pretraining mix; the running "
    "total windows on the source key (hash exchange, per-source sort), "
    "and the md5 order makes the chosen subset independent of physical "
    "layout — rerunning on a different cluster picks the same docs.",
)
def mix_budget(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    t = docs.select(
        "doc_id",
        "source",
        T.token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("skey"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return (
        t.withColumn("cum_tokens", cum)
        .where(F.col("cum_tokens") - F.col("n_tokens") < 500)
        .select("doc_id", "source", "n_tokens", "cum_tokens")
    )


@_register(
    "heavy_hitters",
    "SELECT event_type, user_id, n, CAST(rk AS INT) AS rk FROM ("
    "  SELECT event_type, user_id, COUNT(*) AS n,"
    "         ROW_NUMBER() OVER (PARTITION BY event_type"
    "                            ORDER BY COUNT(*) DESC, user_id) AS rk"
    "  FROM events GROUP BY event_type, user_id"
    ") WHERE rk <= 3",
    doc="Exact heavy hitters: the top-3 users by volume within each event "
    "type — the skew diagnostic run before choosing salting/broadcast "
    "strategies (the hot keys this query surfaces are the ones "
    "agg_salted exists for). Pre-aggregation shrinks the window input to "
    "one row per (type, user); WindowGroupLimit then keeps only "
    "candidate rows ahead of the final shuffle.",
)
def heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    g = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), F.col("user_id"))
    return (
        g.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("event_type", "user_id", "n", "rk")
    )


# ---------------------------------------------------------------------------
# graph analytics
# ---------------------------------------------------------------------------

_PAGERANK_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst FROM lineitem
), od AS (
  SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), n AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), r0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n
), c1 AS (
  SELECT dst, SUM(rank // outdeg) AS s
  FROM e JOIN od USING (src) JOIN r0 ON r0.node = e.src GROUP BY dst
), r1 AS (
  SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN c1 ON n.node = c1.dst
), c2 AS (
  SELECT dst, SUM(rank // outdeg) AS s
  FROM e JOIN od USING (src) JOIN r1 ON r1.node = e.src GROUP BY dst
), r2 AS (
  SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN c2 ON n.node = c2.dst
), c3 AS (
  SELECT dst, SUM(rank // outdeg) AS s
  FROM e JOIN od USING (src) JOIN r2 ON r2.node = e.src GROUP BY dst
), r3 AS (
  SELECT node, CAST(150000 + (85 * COALESCE(s, 0)) // 100 AS BIGINT) AS rank
  FROM n LEFT JOIN c3 ON n.node = c3.dst
)
SELECT node, rank FROM r3
"""


@_register(
    "pagerank_links",
    _PAGERANK_ORACLE,
    doc="Fixed-3-iteration PageRank over the part→supplier shipment graph "
    "(suppliers namespaced by +1e9), in EXACT integer micro-units — "
    "operators.graph.pagerank_int. The iterative-propagation face of "
    "graph analytics next to connected components' convergence face: "
    "every iteration is one O(|E|) join + hash aggregate, lineage "
    "checkpoint-truncated; integer div/mod arithmetic makes the result "
    "bitwise identical across engines and partitionings, which no "
    "float PageRank is. Oracle = the same three iterations unrolled as "
    "chained CTEs.",
)
def pagerank_links(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.graph import pagerank_int

    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000000).alias("dst"),
    )
    return pagerank_int(edges, iterations=3, damping_pct=85)


_QUANTILE_ORACLE = """
WITH r AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_quantity, l_orderkey, l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS cnt
  FROM lineitem
)
SELECT flag, CAST(MAX(cnt) AS BIGINT) AS n,
       MAX(CASE WHEN rn = CAST(CEIL(0.5 * cnt) AS BIGINT) THEN q END) AS p50,
       MAX(CASE WHEN rn = CAST(CEIL(0.9 * cnt) AS BIGINT) THEN q END) AS p90,
       MAX(CASE WHEN rn = CAST(CEIL(0.99 * cnt) AS BIGINT) THEN q END) AS p99
FROM r GROUP BY flag
"""


@_register(
    "quantile_exact",
    _QUANTILE_ORACLE,
    doc="Exact multi-quantile (p50/p90/p99) by rank selection — "
    "percentile_disc semantics (value at rank ceil(p·n), an actual data "
    "point, no interpolation, so the result is an exact integer in both "
    "engines). Re-planned off the window sort (r2 VERDICT #1): "
    "per-(flag, value) counts via partial+final hash aggregate, then one "
    "codegen fold over the <=50-entry sorted histogram extracts all "
    "three ranks in a single pass — the shuffle carries (flag, value, "
    "count) triples only, never rows, so the plan is row-count-"
    "independent at 100 TB. The oracle keeps percentile_disc-over-rows "
    "semantics, identical on ties.",
)
def quantile_exact(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    h = (
        li.select(
            F.col("l_returnflag").alias("flag"),
            F.col("l_quantity").cast("long").alias("q"),
        )
        .groupBy("flag", "q")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    g = h.groupBy("flag").agg(
        F.sum("c").alias("n"),
        F.collect_list(F.struct("q", "c")).alias("hist"),
    )
    ranks = {p: F.ceil(F.lit(p) * F.col("n")) for p in (0.5, 0.9, 0.99)}

    def merge(acc, x):
        def pick(prev, r):
            return F.coalesce(
                prev, F.when((r > acc.cum) & (r <= acc.cum + x.c), x.q)
            )

        return F.struct(
            (acc.cum + x.c).alias("cum"),
            pick(acc.p50, ranks[0.5]).alias("p50"),
            pick(acc.p90, ranks[0.9]).alias("p90"),
            pick(acc.p99, ranks[0.99]).alias("p99"),
        )

    nul = F.lit(None).cast("long")
    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        nul.alias("p50"),
        nul.alias("p90"),
        nul.alias("p99"),
    )
    fold = F.aggregate(F.array_sort("hist"), init, merge)
    return g.select("flag", "n", fold.alias("f")).select(
        "flag",
        "n",
        F.col("f.p50").alias("p50"),
        F.col("f.p90").alias("p90"),
        F.col("f.p99").alias("p99"),
    )


_SNAPSHOT_DIFF_ORACLE = """
WITH v1 AS (
  SELECT doc_id, md5(text) AS digest FROM documents WHERE doc_id % 11 <> 0
), v2 AS (
  SELECT doc_id,
         md5(CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END) AS digest
  FROM documents WHERE doc_id % 13 <> 0
)
SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v1.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id
WHERE v1.doc_id IS NULL OR v2.doc_id IS NULL OR v1.digest <> v2.digest
"""


@_register(
    "snapshot_diff",
    _SNAPSHOT_DIFF_ORACLE,
    doc="Dataset-version diff: added/removed/changed rows between two "
    "snapshots (here carved deterministically out of documents: v1 drops "
    "doc_id%11, v2 drops %13 and edits %7) — the audit step between "
    "corpus releases. Rows are reduced to (key, content digest) BEFORE "
    "the full outer join, so only 16-byte hashes cross the shuffle, "
    "never document bodies, and both sides partition on the join key — "
    "the shape that diffs a 100 TB snapshot pair with one hash join.",
)
def snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    v1 = docs.where(F.col("doc_id") % 11 != 0).select(
        F.col("doc_id").alias("id1"), F.md5("text").alias("d1")
    )
    v2 = docs.where(F.col("doc_id") % 13 != 0).select(
        F.col("doc_id").alias("id2"),
        F.md5(
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            ).otherwise(F.col("text"))
        ).alias("d2"),
    )
    j = v1.join(v2, v1.id1 == v2.id2, "full_outer")
    change = (
        F.when(F.col("id1").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .otherwise("changed")
    )
    return j.where(
        F.col("id1").isNull() | F.col("id2").isNull() | (F.col("d1") != F.col("d2"))
    ).select(F.coalesce("id1", "id2").alias("doc_id"), change.alias("change"))


_BASKET_ORACLE = """
WITH b AS (
  SELECT DISTINCT user_id, event_type FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       COUNT(*) AS support
FROM b a JOIN b b ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
"""


@_register(
    "basket_pairs",
    _BASKET_ORACLE,
    doc="Market-basket co-occurrence: how many users trigger each PAIR of "
    "event types — the support counts behind association-rule mining. "
    "Baskets are deduped to distinct (user, type) first, so the per-user "
    "self-join explodes a bounded set (≤ |event types| per user, never "
    "per-event volume); the pair count is one partial-agg'd shuffle on "
    "the pair key.",
)
def basket_pairs(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    b = ev.select("user_id", "event_type").distinct()
    a = b.select("user_id", F.col("event_type").alias("type_a"))
    c = b.select("user_id", F.col("event_type").alias("type_b"))
    return (
        a.join(c, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )


_ROLLING_ACTIVE_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM d
)
SELECT g.day, COUNT(DISTINCT d.user_id) AS active_3d
FROM days g JOIN d ON d.day BETWEEN g.day - INTERVAL 2 DAY AND g.day
GROUP BY g.day
"""


@_register(
    "rolling_active_users",
    _ROLLING_ACTIVE_ORACLE,
    doc="Rolling 3-day active users per day (the DAU/WAU family, exact): "
    "activity dedupes to distinct (user, day) FIRST — the range join "
    "then runs over that reduced relation against the tiny day grid, "
    "never against raw events, so the quadratic term is bounded by "
    "|users|×|window days|. Count-distinct collapses per grid day. At "
    "larger windows the same query runs per (day bucket, user) with the "
    "grid still broadcast.",
)
def rolling_active_users(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    days = d.select("day").distinct().select(F.col("day").alias("gday"))
    j = d.join(
        F.broadcast(days),
        (F.col("day") >= F.date_sub(F.col("gday"), 2))
        & (F.col("day") <= F.col("gday")),
    )
    return (
        j.groupBy(F.col("gday").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_3d"))
    )


_DEBOUNCE_ORACLE = """
WITH g AS (
  SELECT event_id, user_id, event_type, ts,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (
             PARTITION BY user_id, event_type ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_id, user_id, event_type
FROM g WHERE gap_us IS NULL OR gap_us > 300000000
"""


@_register(
    "events_debounce",
    _DEBOUNCE_ORACLE,
    doc="Debounce: drop events arriving within 5 minutes of the previous "
    "same (user, type) event — duplicate-click suppression, the "
    "rate-limited twin of dedup_keyed (which drops exact id repeats; "
    "this drops temporal echoes). One lag window partitioned on the "
    "(user, type) key in exact integer microseconds; first event of "
    "each key always passes (NULL gap).",
)
def events_debounce(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gap = us - F.lag(us).over(w)
    return (
        ev.select("event_id", "user_id", "event_type", gap.alias("gap_us"))
        .where(F.col("gap_us").isNull() | (F.col("gap_us") > 300000000))
        .select("event_id", "user_id", "event_type")
    )


_CHUNK_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sized AS (
  SELECT doc_id, w, len(w) AS n FROM toks WHERE len(w) > 0
), nc AS (
  SELECT doc_id, w,
         CASE WHEN n <= 32 THEN 1 ELSE (n - 32 + 23) // 24 + 1 END AS n_chunks
  FROM sized
), ex AS (
  SELECT doc_id, w, CAST(unnest(range(n_chunks)) AS BIGINT) AS chunk_id FROM nc
)
SELECT doc_id, chunk_id,
       CAST(len(w[chunk_id * 24 + 1 : chunk_id * 24 + 32]) AS BIGINT) AS n_tokens,
       array_to_string(w[chunk_id * 24 + 1 : chunk_id * 24 + 32], ' ') AS chunk_text
FROM ex
"""


@_register(
    "chunk_documents",
    _CHUNK_ORACLE,
    doc="Sliding-window document chunking: split each document into "
    "32-token chunks with stride 24 (8-token overlap) — the step every "
    "LLM pretraining pipeline runs between cleaning and tokenization, "
    "and the producer for pack_sequences. Pure narrow map + bounded "
    "explode (fan-out n/stride per doc), zero shuffles; the chunk count "
    "is computed in integer arithmetic (`div`) so both engines agree "
    "exactly. The final chunk is short rather than padded (slice clamps "
    "at the array end in both engines).",
)
def chunk_documents(spark: SparkSession, sf: str) -> DataFrame:
    size, stride = 32, 24
    docs = load_table(spark, sf, "documents")
    toks = (
        docs.select("doc_id", T.words(F.lower(F.col("text"))).alias("w"))
        .withColumn("n", F.size("w"))
        .where(F.col("n") > 0)
    )
    n_chunks = F.when(F.col("n") <= size, F.lit(1)).otherwise(
        F.expr(f"(n - {size} + {stride - 1}) div {stride}") + 1
    )
    ex = toks.withColumn(
        "chunk_id", F.explode(F.sequence(F.lit(0), (n_chunks - 1).cast("int")))
    )
    chunk = F.slice(F.col("w"), F.col("chunk_id") * stride + 1, size)
    return ex.select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


_PREFIX_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), p AS (
  SELECT doc_id, md5(array_to_string(w[1:32], ' ')) AS prefix_md5
  FROM toks WHERE len(w) > 0
)
SELECT prefix_md5, MIN(doc_id) AS keep_doc_id, COUNT(*) AS n_docs
FROM p GROUP BY prefix_md5
"""


@_register(
    "dedup_prefix",
    _PREFIX_ORACLE,
    doc="Prefix-hash dedup: documents sharing their first 32 tokens "
    "collapse to one survivor (deterministic min doc_id) — the cheap "
    "web-corpus tier that catches boilerplate openings and truncation "
    "duplicates that exact-hash dedup misses and n-gram Jaccard "
    "over-pays for. Only the 16-byte md5 of the prefix crosses the one "
    "shuffle (same digest-only discipline as dedup_exact); bodies never "
    "move.",
)
def dedup_prefix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    p = (
        docs.select("doc_id", T.words(F.lower(F.col("text"))).alias("w"))
        .where(F.size("w") > 0)
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("w", 1, 32), " ")).alias("prefix_md5"),
        )
    )
    return p.groupBy("prefix_md5").agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


_CONCURRENCY_ORACLE = """
WITH pts AS (
  SELECT event_type, epoch_us(ts) AS t, CAST(1 AS BIGINT) AS d, event_id FROM events
  UNION ALL
  SELECT event_type, epoch_us(ts) + 300000000, CAST(-1 AS BIGINT), event_id FROM events
), sweep AS (
  SELECT event_type,
         SUM(d) OVER (PARTITION BY event_type ORDER BY t, d, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
  FROM pts
)
SELECT event_type, CAST(MAX(open) AS BIGINT) AS max_concurrent
FROM sweep GROUP BY event_type
"""


@_register(
    "max_concurrency",
    _CONCURRENCY_ORACLE,
    doc="Sweep-line interval overlap: each event opens a [ts, ts+5min) "
    "interval; report the peak number of simultaneously-open intervals "
    "per event type — the max-concurrency / peak-load readout behind "
    "capacity planning. Classic +1/-1 boundary-point sweep: half-open "
    "semantics order the -1 before the +1 at an identical instant "
    "(ORDER BY t, d), event_id breaks remaining ties so the running sum "
    "is one deterministic total order; integer microseconds throughout. "
    "Sharded sweep (r2 VERDICT 'What's wrong' #2, the two-pass the old "
    "docstring only promised): boundary points bucket into hourly "
    "(type, time-bucket) panes; pass 1 runs the running sum INSIDE each "
    "pane (the window partitions on the composite key, so the sort is "
    "per-hour-per-type, shuffle-balanced at any scale) and reduces each "
    "pane to (net delta, running max); pass 2 prefix-sums the pane "
    "deltas per type — one row per pane, bounded by the calendar, not "
    "by event volume — and the peak is max(carry-in + pane max). "
    "Associative prefix-sum decomposition: results are bit-identical to "
    "the unsharded sweep.",
)
def max_concurrency(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    opens = ev.select(
        "event_type", us.alias("t"), F.lit(1).cast("bigint").alias("d"), "event_id"
    )
    closes = ev.select(
        "event_type",
        (us + 300000000).alias("t"),
        F.lit(-1).cast("bigint").alias("d"),
        "event_id",
    )
    pts = opens.unionAll(closes).withColumn("bucket", F.expr("t div 3600000000"))
    w_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t", "d", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = pts.select(
        "event_type", "bucket", "d", F.sum("d").over(w_in).alias("run")
    )
    pane = run.groupBy("event_type", "bucket").agg(
        F.sum("d").alias("tot"), F.max("run").alias("mx")
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    peak = pane.select(
        "event_type",
        (F.coalesce(F.sum("tot").over(w_carry), F.lit(0)) + F.col("mx")).alias(
            "peak"
        ),
    )
    return peak.groupBy("event_type").agg(F.max("peak").alias("max_concurrent"))


_ATTRIBUTION_ORACLE = """
WITH j AS (
  SELECT event_id, user_id, event_type, ts,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS attributed_type
  FROM events
)
SELECT event_id, user_id, attributed_type
FROM j WHERE event_type = 'purchase'
"""


@_register(
    "attribution_last_touch",
    _ATTRIBUTION_ORACLE,
    doc="Last-touch attribution: each purchase is credited to the most "
    "recent preceding non-purchase event of the same user (NULL when the "
    "purchase is the user's first touchpoint). One user-partitioned "
    "window with last_value(... IGNORE NULLS) over the unbounded-to-1-"
    "preceding frame — no self-join, no per-user collect; the window "
    "partitions on the natural high-cardinality key so the sort is "
    "per-user and shuffle-balanced at any scale.",
)
def attribution_last_touch(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        ev.select("event_id", "user_id", "event_type", prev.alias("attributed_type"))
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "attributed_type")
    )


_GINI_ORACLE = """
WITH c AS (
  SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS n_s FROM documents GROUP BY lang, source
), m AS (
  SELECT lang, SUM(n_s) AS n, SUM(n_s * n_s) AS ss FROM c GROUP BY lang
)
SELECT lang, CAST(n AS BIGINT) AS n_docs,
       CAST(((n * n - ss) * 1000000) // (n * n) AS BIGINT) AS gini_micro
FROM m
"""


@_register(
    "lang_source_gini",
    _GINI_ORACLE,
    doc="Source-diversity Gini impurity per language, in exact integer "
    "micro-units: gini = 1 - sum(share^2) computed as "
    "((n^2 - sum(n_s^2)) * 1e6) div n^2 — every operand stays a BIGINT, "
    "so no float summation order or log/ln cross-engine drift exists at "
    "all (the features.py IEEE-tree recipe isn't even needed). Two "
    "cascading hash aggregates, both map-side partial. 64-bit range "
    "holds to ~3M docs per language at micro scale; past that, switch "
    "the scale factor to 1e4 or the arithmetic to decimal(38,0).",
)
def lang_source_gini(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    c = docs.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n_s"))
    m = c.groupBy("lang").agg(
        F.sum("n_s").alias("n"), F.sum(F.col("n_s") * F.col("n_s")).alias("ss")
    )
    return m.select(
        "lang",
        F.col("n").alias("n_docs"),
        F.expr("((n * n - ss) * 1000000) div (n * n)").alias("gini_micro"),
    )


_DQ_ORACLE = """
SELECT 'lineitem_orphan_orderkey' AS check_name, CAST(COUNT(*) AS BIGINT) AS n_bad
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders_dup_orderkey', CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders
UNION ALL
SELECT 'orders_nonpositive_totalprice',
       CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) FROM orders
UNION ALL
SELECT 'events_null_user',
       CAST(COUNT(*) FILTER (WHERE user_id IS NULL) AS BIGINT) FROM events
UNION ALL
SELECT 'documents_empty_text',
       CAST(COUNT(*) FILTER (WHERE length(trim(text)) = 0) AS BIGINT) FROM documents
"""


@_register(
    "dq_checks",
    _DQ_ORACLE,
    doc="Data-quality audit: one row per constraint check — referential "
    "integrity (orphan lineitems via LEFT ANTI join), key uniqueness "
    "(count minus distinct), accepted-range, null-rate, and emptiness — "
    "the dbt-test / Deequ-style gate a corpus passes before training. "
    "Each check is a single scan + aggregate; the two orders checks "
    "fuse into one conditional-aggregate pass so the table is read "
    "once, and the anti join broadcasts nothing (orderkey-partitioned "
    "SMJ at scale, where the NOT EXISTS side is too big to broadcast).",
)
def dq_checks(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    od = load_table(spark, sf, "orders")
    ev = load_table(spark, sf, "events")
    docs = load_table(spark, sf, "documents")

    def row(name: str, agg):
        return F.lit(name).alias("check_name"), agg.cast("bigint").alias("n_bad")

    orphans = li.join(
        od.select("o_orderkey"),
        li["l_orderkey"] == od["o_orderkey"],
        "left_anti",
    ).select(*row("lineitem_orphan_orderkey", F.count(F.lit(1))))
    # one fused pass over orders covers uniqueness AND range
    orders_checks = od.agg(
        (F.count(F.lit(1)) - F.count_distinct(F.col("o_orderkey"))).alias("dups"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("nonpos"),
    )
    o_dup = orders_checks.select(*row("orders_dup_orderkey", F.col("dups")))
    o_rng = orders_checks.select(*row("orders_nonpositive_totalprice", F.col("nonpos")))
    e_null = ev.agg(
        F.sum(F.when(F.col("user_id").isNull(), 1).otherwise(0)).alias("n")
    ).select(*row("events_null_user", F.col("n")))
    d_empty = docs.agg(
        F.sum(F.when(F.length(F.trim(F.col("text"))) == 0, 1).otherwise(0)).alias("n")
    ).select(*row("documents_empty_text", F.col("n")))
    return orphans.unionAll(o_dup).unionAll(o_rng).unionAll(e_null).unionAll(d_empty)


_SCD2_ORACLE = """
SELECT event_id, user_id,
       CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
       CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
FROM events WHERE event_type = 'purchase'
"""


@_register(
    "scd2_intervals",
    _SCD2_ORACLE,
    doc="SCD type-2 history builder: each user's purchase stream becomes "
    "versioned validity intervals — valid_from = the event, valid_to = "
    "the next event (NULL = current row), version = 1..n — the standard "
    "warehouse pattern for turning a change log into an effective-dated "
    "dimension (the producer for join_asof / join_interval lookups). "
    "One lead + row_number over a single user-partitioned window sort; "
    "the filter on event_type is pushed into the parquet scan.",
)
def scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events").where(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_milli"),
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.row_number().over(w).cast("bigint").alias("version"),
    )


_CUM_USERS_ORACLE = """
WITH first_seen AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS day FROM events GROUP BY user_id
), per_day AS (
  SELECT day, CAST(COUNT(*) AS BIGINT) AS new_users FROM first_seen GROUP BY day
)
SELECT day, new_users,
       CAST(SUM(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
FROM per_day
"""


@_register(
    "cumulative_unique_users",
    _CUM_USERS_ORACLE,
    doc="Cumulative distinct users per day — the growth curve every "
    "product dashboard opens with, and a running COUNT(DISTINCT) that "
    "naive engines recompute per day in O(days·users). Decomposed "
    "exactly: distinct collapses to each user's FIRST day (one "
    "user-keyed aggregate at data scale), then a running sum over the "
    "per-day counts. The only unpartitioned window runs over #days "
    "rows — bounded and tiny at any corpus size.",
)
def cumulative_unique_users(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("day")
    )
    per_day = first_seen.groupBy("day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).alias("cum_users")
    )


_TRANSITIONS_ORACLE = """
WITH p AS (
  SELECT user_id, event_type AS src,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
  FROM events
), c AS (
  SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
  FROM p WHERE dst IS NOT NULL GROUP BY src, dst
), t AS (
  SELECT src, CAST(SUM(n) AS BIGINT) AS tot FROM c GROUP BY src
)
SELECT c.src, c.dst, c.n, CAST((c.n * 1000000) // t.tot AS BIGINT) AS p_micro
FROM c JOIN t ON c.src = t.src
"""


@_register(
    "event_transitions",
    _TRANSITIONS_ORACLE,
    doc="Markov transition matrix over user journeys: count src→dst "
    "event-type pairs (lead window per user) and the per-source "
    "transition probability in exact integer micro-units "
    "((n·1e6) div total — no float division order to drift). The "
    "sequence-analytics twin of bigram_lift. One user-partitioned "
    "window, one #types²-sized aggregate; the totals side of the final "
    "join is #types rows and broadcasts.",
)
def event_transitions(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = ev.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).where(F.col("dst").isNotNull())
    c = p.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n"))
    t = c.groupBy("src").agg(F.sum("n").alias("tot"))
    return (
        c.join(F.broadcast(t), "src")
        .select("src", "dst", "n", F.expr("(n * 1000000) div tot").alias("p_micro"))
    )


_MAD_ORACLE = """
WITH v AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS x FROM events
), r1 AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM v
), med AS (
  SELECT event_type, x AS med FROM r1 WHERE rn = (cnt + 1) // 2
), d AS (
  SELECT v.event_id, v.event_type, ABS(v.x - m.med) AS dev, m.med
  FROM v JOIN med m ON v.event_type = m.event_type
), r2 AS (
  SELECT event_type, med, dev,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM d
)
SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n, MAX(med) AS median_milli,
       MAX(CASE WHEN rn = (cnt + 1) // 2 THEN dev END) AS mad_milli
FROM r2 GROUP BY event_type
"""


@_register(
    "value_mad",
    _MAD_ORACLE,
    doc="Median absolute deviation per event type — the robust spread "
    "estimator monitoring uses when outliers poison stddev (the robust "
    "twin of anomaly_zscore's σ). Re-planned off the per-type row sort "
    "(r2 VERDICT #1): each pass hash-aggregates to a per-(type, "
    "milli-value) histogram first — fully parallel, map-side combined — "
    "and rank-selects the lower median with a running-count window over "
    "the HISTOGRAM, whose size is bounded by the milli-grid width "
    "(~10^5 buckets), never by row count. The raw events cross a "
    "shuffle only as (type, value, count) triples; the per-type medians "
    "broadcast back for the deviation pass. Exact integer milli-units, "
    "percentile_disc lower-median semantics, identical to the row-level "
    "oracle on ties.",
)
def value_mad(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    # r14: the deviation pass rides the (type, value) HISTOGRAM, not the
    # raw rows — count(dev = |x − med|) is Σ of the value-counts at the
    # two mirrored x positions, so after the first histogram aggregate
    # nothing row-grain is scanned, joined or re-aggregated (the
    # previous shape re-scanned events and row-joined 100k rows against
    # the medians). The explicit not-null filter makes every consumer's
    # histogram subtree canonically identical (the med branches get
    # IsNotNull(event_type) pushed by their joins, the window branch
    # does not — the assortativity reuse lesson), so AQE materializes
    # the histogram exchange once. Guide §2.3/§2.4.
    v = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("x"),
    ).where(F.col("event_type").isNotNull())
    h1 = v.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))

    def hist_median(h, col):
        """Lower median of ``col`` per event_type over a pre-counted
        (event_type, col, c) histogram; returns (event_type, med, n)."""
        wrun = (
            Window.partitionBy("event_type")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wall = Window.partitionBy("event_type")
        r = h.select(
            "event_type",
            F.col(col),
            (F.sum("c").over(wrun) - F.col("c")).alias("cum_prev"),
            F.sum("c").over(wrun).alias("cum"),
            F.sum("c").over(wall).alias("n"),
        )
        lo = F.expr("(n + 1) div 2")
        return r.where((lo > F.col("cum_prev")) & (lo <= F.col("cum"))).select(
            "event_type", F.col(col).alias("med"), F.col("n")
        )

    med = hist_median(h1, "x")
    h2 = (
        h1.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.abs(F.col("x") - F.col("med")).alias("dev"))
        .agg(F.sum("c").alias("c"))
    )
    mad = hist_median(h2, "dev").select(
        "event_type", F.col("med").alias("mad")
    )
    return (
        med.join(F.broadcast(mad), "event_type")
        .select(
            "event_type",
            F.col("n"),
            F.col("med").alias("median_milli"),
            F.col("mad").alias("mad_milli"),
        )
    )


# ---------------------------------------------------------------------------
# round 2c tranche
# ---------------------------------------------------------------------------

_TRIANGLE_ORACLE = """
WITH op AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
), e AS (
  SELECT DISTINCT a.p AS u, b.p AS v
  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
), nn AS (
  SELECT COUNT(DISTINCT x) AS n_nodes
  FROM (SELECT u AS x FROM e UNION ALL SELECT v FROM e)
), ne AS (
  SELECT COUNT(*) AS n_edges FROM e
), tri AS (
  SELECT COUNT(*) AS n_triangles
  FROM e x JOIN e y ON y.u = x.v JOIN e z ON z.u = x.u AND z.v = y.v
)
SELECT CAST(n_nodes AS BIGINT) AS n_nodes, CAST(n_edges AS BIGINT) AS n_edges,
       CAST(n_triangles AS BIGINT) AS n_triangles
FROM nn CROSS JOIN ne CROSS JOIN tri
"""


@_register(
    "triangle_count",
    _TRIANGLE_ORACLE,
    doc="Exact triangle count on the part co-purchase graph (parts sharing "
    "an order are connected) — the clustering-coefficient numerator of "
    "graph analytics, next to pagerank_links (propagation) and "
    "dedup_clusters (connectivity). Degree-ordered orientation (r2 "
    "VERDICT 'What's wrong' #3 — the hub mitigation is now IN the plan, "
    "and exact, not a cap): every undirected edge is oriented from its "
    "lower-(degree, id) endpoint to the higher, so each triangle is "
    "counted exactly once from its lowest-ranked vertex and every "
    "node's forward-degree is O(sqrt|E|) — the wedge relation is "
    "bounded by O(|E|^1.5) for ANY graph, hubs included (a hot node of "
    "degree d contributes d wedges as a spoke, never d² — the "
    "quadratic blowup the unoriented join had). Degrees come from one "
    "hash aggregate and join onto the edge list via AQE (broadcast at "
    "|V|≪|E|, sort-merge past the threshold); every data-sized join is "
    "an equi-join on node keys (the only nested loop is the 1-row×1-row "
    "stat assembly). r5 re-plan (the r4 shape re-measured 2-3× slower "
    "once the bench stopped crediting cross-trial cache hits): per-order "
    "part-pairs generate as an in-row HOF over the sorted part set — no "
    "order-keyed self-join — and the closure joins the EXPLODED "
    "adjacency (src, na, dst) to adj once on dst, instead of joining "
    "the edge list to adj twice; edges whose head has no forward-"
    "neighbors intersect empty, so the join is inner. Persisted: the "
    "deduped edge list (feeds stats + degrees) and the adjacency "
    "(build side + probe side of the closure).",
)
def triangle_count(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    li = load_table(spark, sf, "lineitem")
    # per-order pairs in-row: sorted distinct part set -> u<v pairs via
    # nested transform/slice (k parts -> k(k-1)/2 rows, no self-join).
    # The explicit repartition pins the aggregate's exchange at full
    # parallelism: the k(k-1)/2 pair GENERATE runs in the stage right
    # after this exchange, and AQE's byte-based coalescer — blind to
    # per-row CPU — folded it onto 4 tasks at sf0.1 (5 MB of partials /
    # 1 MB min size) while 28 cores idled (guide §2.5: the coalescer
    # can't see compute-heavy small-byte stages). A user repartition on
    # the SAME key satisfies the aggregate's distribution requirement, so
    # the plan still has ONE exchange here — just a non-coalescible one.
    n_fan = spark.sparkContext.defaultParallelism
    ps = (
        li.select(F.col("l_orderkey").alias("o"), "l_partkey")
        .repartition(n_fan, "o")
        .groupBy("o")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )
    # r14 kernel shape (OPTIMIZATION_r14.md "triangle_count — pair-generation
    # kernel rewritten", identical stats row):
    # explode TWICE — position first, then the sorted tail slice — so
    # pair emission allocates only primitive tail arrays (k²/2 longs
    # per order in total). The previous single-explode built the full
    # k(k-1)/2 array of two-field STRUCTS per order row and flattened
    # it before the first pair came out: 3.03 -> 2.55 s min-of-5 on the
    # whole query. (Replacing the closure's array_intersect with
    # allocation-free linear scans measured 1.4x WORSE — the per-row
    # hash set beats O(|na|·|nb|) comparisons at these forward-degree
    # sizes — so that kernel stays.)
    t = ps.select(F.posexplode("ps").alias("i", "u"), "ps")
    pairs = t.select(
        "u",
        F.explode(
            F.slice("ps", F.col("i") + F.lit(2), F.size("ps"))
        ).alias("v"),
    )
    e = pairs.distinct().persist(StorageLevel.MEMORY_AND_DISK)
    # degrees persist at |V| rows: the union shuffle that builds them runs
    # ONCE, then feeds the node/edge stats (n_nodes = row count, n_edges =
    # half the exact degree sum) and both orientation joins — the previous
    # shape paid a second 2|E|-row union shuffle for a countDistinct
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select("v"))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("deg"))
    ).persist(StorageLevel.MEMORY_AND_DISK)
    nn = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    ne = deg.agg(F.expr("sum(deg) div 2").alias("n_edges"))
    ed = (
        e.join(deg.withColumnRenamed("x", "u").withColumnRenamed("deg", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("deg", "dv"), "v")
    )
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    f = ed.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # Adjacency-intersect closure: each triangle {x<y<z in (deg,id) rank}
    # is counted exactly once on its (x,y) edge as z ∈ N+(x) ∩ N+(y) —
    # forward adjacencies are O(sqrt|E|) arrays, the intersect is a
    # codegen set op, and the join output feeds a partial SUM in the same
    # stage, so the wedge relation is never materialized or shuffled.
    # (src, na, explode(na)) IS the oriented edge list with its source
    # adjacency already attached — only the head side needs a join.
    adj = f.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    ex = adj.select(F.col("nbrs").alias("na"), F.explode("nbrs").alias("dst"))
    tri = (
        ex.join(
            adj.select(F.col("src").alias("b"), F.col("nbrs").alias("nb")),
            F.col("dst") == F.col("b"),
        )
        .select(F.size(F.array_intersect(F.col("na"), F.col("nb"))).alias("t"))
        .agg(F.sum("t").alias("n_triangles"))
    )
    return nn.crossJoin(ne).crossJoin(tri)


_STREAK_ORACLE = """
WITH d AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), g AS (
  SELECT user_id, day,
         day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INT)
           AS anchor
  FROM d
), s AS (
  SELECT user_id, anchor, COUNT(*) AS len, MIN(day) AS start_day
  FROM g GROUP BY user_id, anchor
), r AS (
  SELECT user_id, len, start_day,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY len DESC, start_day) AS rk
  FROM s
)
SELECT user_id, CAST(len AS BIGINT) AS streak_days, start_day AS streak_start
FROM r WHERE rk = 1
"""


@_register(
    "longest_streak",
    _STREAK_ORACLE,
    doc="Longest run of consecutive active days per user — the classic "
    "gaps-and-islands pattern (engagement-streak metrics): day minus its "
    "per-user row_number is constant within a consecutive run, so the "
    "anchor date groups each island with zero self-joins. Activity "
    "dedupes to distinct (user, day) first; both windows and the "
    "island aggregate partition on user_id, so every stage reuses one "
    "user-keyed exchange and the per-user sort is bounded by active "
    "days, never raw event volume. Deterministic tie-break: earliest "
    "streak wins.",
)
def longest_streak(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    d = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    g = d.select(
        "user_id",
        "day",
        F.date_sub(F.col("day"), F.row_number().over(w)).alias("anchor"),
    )
    s = g.groupBy("user_id", "anchor").agg(
        F.count(F.lit(1)).alias("len"), F.min("day").alias("start_day")
    )
    wr = Window.partitionBy("user_id").orderBy(F.col("len").desc(), F.col("start_day"))
    return (
        s.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("len").cast("bigint").alias("streak_days"),
            F.col("start_day").alias("streak_start"),
        )
    )


_NEAREST_ORACLE = """
WITH o AS (
  SELECT event_id, user_id,
         LAG(event_id)  OVER w AS prev_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER w)  AS prev_gap,
         LEAD(event_id) OVER w AS next_id,
         epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS next_gap
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       CASE WHEN next_gap IS NULL
              OR (prev_gap IS NOT NULL AND prev_gap <= next_gap)
            THEN prev_id ELSE next_id END AS neighbor_id,
       CASE WHEN next_gap IS NULL
              OR (prev_gap IS NOT NULL AND prev_gap <= next_gap)
            THEN prev_gap ELSE next_gap END AS gap_us
FROM o
"""


@_register(
    "nearest_event",
    _NEAREST_ORACLE,
    doc="Bidirectional nearest neighbor in time: each event annotated with "
    "its user's temporally closest OTHER event, looking both backward "
    "and forward — the symmetric completion of join_asof (backward-only) "
    "without any join at all: one user-partitioned window yields lag and "
    "lead from the same sort, and a pure projection picks the smaller "
    "gap (tie → the earlier event; single-event users get NULL). Exact "
    "integer microseconds; the window partitions on the natural "
    "high-cardinality user key, so the plan is one balanced exchange at "
    "any scale.",
)
def nearest_event(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_gap = us - F.lag(us).over(w)
    next_gap = F.lead(us).over(w) - us
    o = ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_id"),
        prev_gap.alias("prev_gap"),
        F.lead("event_id").over(w).alias("next_id"),
        next_gap.alias("next_gap"),
    )
    take_prev = F.col("next_gap").isNull() | (
        F.col("prev_gap").isNotNull() & (F.col("prev_gap") <= F.col("next_gap"))
    )
    return o.select(
        "event_id",
        "user_id",
        F.when(take_prev, F.col("prev_id")).otherwise(F.col("next_id")).alias(
            "neighbor_id"
        ),
        F.when(take_prev, F.col("prev_gap")).otherwise(F.col("next_gap")).alias(
            "gap_us"
        ),
    )


_WMEDIAN_ORACLE = """
WITH v AS (
  SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS q,
         CAST(FLOOR(l_extendedprice * 100) AS BIGINT) AS wt,
         l_orderkey, l_linenumber
  FROM lineitem
), o AS (
  SELECT flag, q,
         CAST(SUM(wt) OVER (PARTITION BY flag ORDER BY q, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         CAST(SUM(wt) OVER (PARTITION BY flag) AS BIGINT) AS tot
  FROM v
)
SELECT flag, MIN(q) AS wmedian_qty, MAX(tot) AS total_weight_cents
FROM o WHERE 2 * cum >= tot GROUP BY flag
"""


@_register(
    "weighted_median",
    _WMEDIAN_ORACLE,
    doc="Weighted median: the smallest quantity at which the running "
    "revenue weight (exact integer cents) reaches half the group total — "
    "median_exact generalized from counts to weights, the estimator "
    "behind revenue-weighted SLAs and importance-weighted corpus stats. "
    "Re-planned off the per-flag running-sum window (r2 VERDICT #1): "
    "weights hash-aggregate to per-(flag, quantity) totals (partial+"
    "final, map-side combine), then a codegen fold over the <=50-entry "
    "sorted histogram finds the smallest quantity whose cumulative "
    "weight reaches half the total — no row-level sort anywhere, the "
    "shuffle carries 50 triples per flag at any data scale. All "
    "arithmetic is BIGINT (weights floor-quantized to cents); the "
    "running weight crosses tot/2 strictly inside one value bucket, so "
    "the row-level oracle and the histogram fold agree exactly.",
)
def weighted_median(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    v = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("q"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("wt"),
    )
    h = v.groupBy("flag", "q").agg(F.sum("wt").alias("c"))
    g = h.groupBy("flag").agg(
        F.sum("c").alias("tot"),
        F.collect_list(F.struct("q", "c")).alias("hist"),
    )

    def merge(acc, x):
        hit = F.when(
            acc.res.isNull() & (2 * (acc.cum + x.c) >= F.col("tot")), x.q
        )
        return F.struct(
            (acc.cum + x.c).alias("cum"),
            F.coalesce(acc.res, hit).alias("res"),
        )

    init = F.struct(
        F.lit(0).cast("long").alias("cum"),
        F.lit(None).cast("long").alias("res"),
    )
    fold = F.aggregate(F.array_sort("hist"), init, merge, lambda acc: acc.res)
    return g.select(
        "flag",
        fold.alias("wmedian_qty"),
        F.col("tot").alias("total_weight_cents"),
    )


_QUANTIZE_ORACLE = """
WITH s AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS xd
  FROM embeddings
), m AS (
  SELECT vec_id, xd, list_max(list_transform(xd, x -> abs(x))) AS m FROM s
), q AS (
  SELECT vec_id, xd, m,
         list_transform(xd, x -> CASE WHEN m = 0 THEN 0
                                      ELSE CAST(FLOOR(x / m * 127.0) AS INT)
                                 END) AS qv
  FROM m
)
SELECT vec_id, CAST(FLOOR(m * 1000000) AS BIGINT) AS scale_micro,
       array_to_string(qv, ',') AS q_str,
       CAST(list_sum(list_transform(range(1, len(xd) + 1),
              i -> CAST(FLOOR(ABS(xd[CAST(i AS INT)]
                                   - qv[CAST(i AS INT)] * m / 127.0)
                              * 1000000.0) AS BIGINT)))
            AS BIGINT) AS err_micro
FROM q
"""


@_register(
    "embedding_quantize",
    _QUANTIZE_ORACLE,
    doc="Per-vector int8 quantization (symmetric max-abs scaling, the "
    "storage format of production vector stores — 4× smaller than "
    "float32, dot products in integer SIMD) plus the exact "
    "reconstruction-error audit: err = Σ|x − dequant(q)| per vector. "
    "Pure narrow map over the embedding column, zero shuffles, codegen "
    "HOFs (transform/zip_with/aggregate) — no Python. Determinism: "
    "float32 → double is exact, (x/m)*127.0 and (q*m)/127.0 are "
    "identical IEEE op trees in both engines, floor has no rounding "
    "ties, and the error sum is an integer fold, so no float "
    "accumulation order exists. The m=0 guard keeps all-zero vectors "
    "representable (q=0, error 0).",
)
def embedding_quantize(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    xd = F.transform("embedding", lambda x: x.cast("double"))
    b = emb.select("vec_id", xd.alias("xd"))
    m = F.array_max(F.transform("xd", F.abs))
    withm = b.withColumn("m", m)
    qv = F.transform(
        "xd",
        lambda x: F.when(F.col("m") == 0, F.lit(0))
        .otherwise(F.floor(x / F.col("m") * 127.0))
        .cast("int"),
    )
    qq = withm.withColumn("qv", qv)
    err_terms = F.zip_with(
        "xd",
        "qv",
        lambda x, q: F.floor(
            F.abs(x - q.cast("double") * F.col("m") / 127.0) * 1000000.0
        ).cast("long"),
    )
    err = F.aggregate(
        err_terms, F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    return qq.select(
        "vec_id",
        F.floor(F.col("m") * 1000000).cast("long").alias("scale_micro"),
        F.array_join(F.transform("qv", lambda v: v.cast("string")), ",").alias(
            "q_str"
        ),
        err.alias("err_micro"),
    )


_SALTED_JOIN_ORACLE = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
"""


@_register(
    "join_salted",
    _SALTED_JOIN_ORACLE,
    doc="Skew-mitigated fact join: the salted-join recipe "
    "(operators/skew.py) run end-to-end — lineitem takes a "
    "deterministic xxhash64 salt, orders replicates buckets-wide, and "
    "the join key becomes (orderkey, salt) so a hot orderkey spreads "
    "over `buckets` reducers instead of stalling one task. Salting is "
    "result-invariant (each fact row meets each matching dim row at "
    "exactly its own salt), so the oracle is the plain unsalted join. "
    "At 100 TB this is the hatch for the one customer/order/document "
    "that dominates a key's volume; here the testdata is uniform, so "
    "the query is the recipe's regression harness, not its showcase — "
    "the skew-shaped differential lives in tests/test_scale_hardening.",
)
def join_salted(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.skew import salted_join

    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    j = salted_join(
        li,
        orders,
        li["l_orderkey"] == orders["o_orderkey"],
        salt_cols=["l_orderkey", "l_linenumber"],
        buckets=8,
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# round 4 tranche — containment dedup, label collapse, DQ routing, winsorize
# ---------------------------------------------------------------------------

_CONTAINMENT_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), keep AS (
  SELECT shingle FROM ex GROUP BY shingle
  HAVING COUNT(*) <= 0.10 * (SELECT COUNT(*) FROM sh)
), exk AS (
  SELECT ex.* FROM ex JOIN keep USING (shingle)
)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(COUNT(*) AS DOUBLE) / a.n_sh AS cont_a,
       CAST(COUNT(*) AS DOUBLE) / b.n_sh AS cont_b
FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
GROUP BY a.id, b.id, a.n_sh, b.n_sh
HAVING greatest(CAST(COUNT(*) AS DOUBLE) / a.n_sh,
                CAST(COUNT(*) AS DOUBLE) / b.n_sh) >= 0.5
"""


@_register(
    "shingle_containment",
    _CONTAINMENT_ORACLE,
    doc="Asymmetric containment dedup (N2 family): |A∩B|/|A| and /|B| over "
    "word-3-gram shingle sets — the detector for SUBSET duplication "
    "(a short doc embedded in a longer one), which symmetric Jaccard "
    "under-scores by construction. Same shingle-bucketed equi-join "
    "discipline as dedup_ngram_jaccard (64-bit shingle hashes as join "
    "keys, per-shingle candidate buckets). No size-ratio prune is "
    "POSSIBLE here (asymmetry is the point), so the stop-shingle "
    "frequency cap (df ≤ 10% of docs, mirrored in the oracle) is the "
    "load-bearing skew guard: one boilerplate shingle shared by k docs "
    "alone yields k(k-1)/2 join rows on a single shuffle key; the cap "
    "bounds any bucket at (0.1·N)². Denominators keep full shingle "
    "counts, so the capped output is a pairwise-subset of the exact "
    "output (documented recall dial, never false positives). "
    "Skew-injection differential: tests/test_scale_hardening.py.",
)
def shingle_containment(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf, "documents")
    return containment_pairs(
        docs, n=3, threshold=0.5, max_doc_freq_frac=0.10
    )


_COLLAPSE_ORACLE = """
WITH c AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n FROM documents GROUP BY lang
)
SELECT CASE WHEN n < 72 THEN 'other' ELSE lang END AS label,
       CAST(SUM(n) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_langs
FROM c GROUP BY 1
"""


@_register(
    "label_collapse_rare",
    _COLLAPSE_ORACLE,
    doc="Tail-label collapse: languages below a document-count threshold "
    "fold into 'other' — the preprocessing step before stratified "
    "sampling or per-label quotas when the long tail would produce "
    "degenerate strata. Two hash aggregates: the first (partial+final, "
    "data-sized) reduces to one row per label, the second runs over "
    "label-cardinality rows — nothing data-sized crosses the second "
    "shuffle at any scale.",
)
def label_collapse_rare(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    c = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    label = F.when(F.col("n") < 72, F.lit("other")).otherwise(F.col("lang"))
    return (
        c.select(label.alias("label"), "n")
        .groupBy("label")
        .agg(F.sum("n").alias("n_docs"), F.count(F.lit(1)).alias("n_langs"))
    )


_QUARANTINE_ORACLE = """
WITH r AS (
  SELECT event_id,
         list_filter([
           CASE WHEN event_type = 'error' THEN 'error_event' END,
           CASE WHEN value > 400 THEN 'value_outlier' END,
           CASE WHEN CAST(json_extract_string(props, '$.k') AS INT) >= 95
                THEN 'high_k' END
         ], x -> x IS NOT NULL) AS reasons
  FROM events
)
SELECT event_id, array_to_string(reasons, ',') AS reasons
FROM r WHERE len(reasons) > 0
"""


@_register(
    "dq_quarantine",
    _QUARANTINE_ORACLE,
    doc="Data-quality routing: every row failing any validation rule is "
    "emitted to a quarantine side-output with ALL its failure reasons "
    "(not just the first) — the complement of dq_checks' aggregate "
    "report, and the pattern that keeps bad rows out of the corpus "
    "without losing them for triage. One narrow codegen projection "
    "(array of CASEs, array_compact, one JSON path), zero shuffles, "
    "fully pushdown-friendly; reasons are ordered by rule position so "
    "the string is deterministic.",
)
def dq_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    reasons = F.array_compact(
        F.array(
            F.when(F.col("event_type") == "error", F.lit("error_event")),
            F.when(F.col("value") > 400, F.lit("value_outlier")),
            F.when(
                F.get_json_object("props", "$.k").cast("int") >= 95,
                F.lit("high_k"),
            ),
        )
    )
    return (
        ev.select("event_id", reasons.alias("__r"))
        .where(F.size("__r") > 0)
        .select("event_id", F.array_join("__r", ",").alias("reasons"))
    )


_WINSOR_ORACLE = """
WITH v AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS x FROM events
), r AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM v
), q AS (
  SELECT event_type, CAST(MAX(cnt) AS BIGINT) AS n,
         MAX(CASE WHEN rn = CAST(CEIL(0.05 * cnt) AS BIGINT) THEN x END) AS lo_milli,
         MAX(CASE WHEN rn = CAST(CEIL(0.95 * cnt) AS BIGINT) THEN x END) AS hi_milli
  FROM r GROUP BY event_type
)
SELECT v.event_type, MAX(q.n) AS n, MAX(q.lo_milli) AS lo_milli,
       MAX(q.hi_milli) AS hi_milli,
       CAST(SUM(LEAST(GREATEST(v.x, q.lo_milli), q.hi_milli)) AS BIGINT)
         AS sum_winsor_milli
FROM v JOIN q ON v.event_type = q.event_type
GROUP BY v.event_type
"""


@_register(
    "winsorize_stats",
    _WINSOR_ORACLE,
    doc="Winsorized per-type statistics: exact p05/p95 (percentile_disc on "
    "integer milli-units) and the sum of values clipped to that range — "
    "the outlier-robust normalizer for reward/feature columns. Same "
    "histogram discipline as the re-planned rank-selection family: "
    "per-(type, milli-value) counts via partial+final hash aggregate, "
    "rank selection AND the clipped sum both computed from the "
    "histogram (clip(x)·count), so raw rows cross one shuffle as "
    "triples and nothing re-scans the fact table for the sum. The "
    "oracle rank-selects over raw rows — identical on ties.",
)
def winsorize_stats(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("x")
    )
    h = v.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "x",
        "c",
        (F.sum("c").over(wrun) - F.col("c")).alias("cum_prev"),
        F.sum("c").over(wrun).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )

    def at(p: float, name: str):
        rank = F.ceil(F.lit(p) * F.col("n"))
        return r.where((rank > F.col("cum_prev")) & (rank <= F.col("cum"))).select(
            "event_type", F.col("x").alias(name), "n"
        )

    q = at(0.05, "lo_milli").join(
        at(0.95, "hi_milli").drop("n"), "event_type"
    )
    clip = F.least(F.greatest(F.col("x"), F.col("lo_milli")), F.col("hi_milli"))
    return (
        h.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("lo_milli").alias("lo_milli"),
            F.max("hi_milli").alias("hi_milli"),
            F.sum(clip * F.col("c")).alias("sum_winsor_milli"),
        )
    )


_SESSIONIZE_ORACLE = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
               OR LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id, ts, event_id,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_idx
  FROM g
)
SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS dur_us
FROM s GROUP BY user_id, session_idx
"""


@_register(
    "sessionize_stats",
    _SESSIONIZE_ORACLE,
    doc="Gap-based sessionization with per-session stats: a >30-minute "
    "silence starts a new session (lag + running flag-sum — the "
    "gaps-and-islands twin of longest_streak), then one hash aggregate "
    "per (user, session) emits event count and exact integer-microsecond "
    "duration. Both windows and the aggregate partition on user_id, so "
    "every stage reuses one user-keyed exchange and per-user sorts are "
    "bounded by that user's events — the shape session analytics keeps "
    "at any scale.",
)
def sessionize_stats(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    new_sess = F.when(
        gap_us.isNull() | (gap_us > 1800000000), F.lit(1)
    ).otherwise(F.lit(0))
    wrun = w.rowsBetween(Window.unboundedPreceding, 0)
    s = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(new_sess).over(wrun).alias("session_idx"),
    )
    return s.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        (
            F.unix_micros(F.max("ts").cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("dur_us"),
    )


_USER_PROFILE_ORACLE = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS n_purchases,
       CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS active_days,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts,
       CAST(SUM(CAST(FLOOR(value * 1000) AS BIGINT)) AS BIGINT) AS total_value_milli
FROM events GROUP BY user_id
"""


@_register(
    "user_profile",
    _USER_PROFILE_ORACLE,
    doc="Per-user activity profile: totals, purchase count, distinct "
    "active days, first/last seen and exact milli-quantized value sum — "
    "the feature vector behind churn/LTV models, computed in ONE "
    "partial+final hash aggregate on the natural high-cardinality key "
    "(count_distinct of days expands to a two-phase distinct aggregate "
    "under the hood; everything else partials map-side). No windows, no "
    "joins — the cheapest possible shape for a 100 TB event log.",
)
def user_profile(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.countDistinct(F.col("ts").cast("date")).alias("active_days"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(F.floor(F.col("value") * 1000).cast("long")).alias(
            "total_value_milli"
        ),
    )


_DEDUP_NORM_ORACLE = """
WITH n AS (
  SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                                 ' +', ' ', 'g'))) AS norm_md5
  FROM documents
)
SELECT norm_md5, MIN(doc_id) AS keep_doc_id, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM n GROUP BY norm_md5
"""


@_register(
    "dedup_normalized",
    _DEDUP_NORM_ORACLE,
    doc="Normalized-text dedup: lowercase, strip non-alphanumerics, "
    "collapse runs of spaces, then hash-group — the tier between exact "
    "dedup (misses punctuation/case variants) and n-gram Jaccard "
    "(overkill for them). Character classes are deliberately ASCII-"
    "simple so both engines' regex semantics agree byte-for-byte. Only "
    "the 16-byte digest crosses the single partial-agg'd shuffle.",
)
def dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
            " +",
            " ",
        )
    )
    return (
        docs.select("doc_id", F.md5(norm).alias("norm_md5"))
        .groupBy("norm_md5")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count(F.lit(1)).alias("n_docs"))
    )


_NORM_STATS_ORACLE = """
WITH n AS (
  SELECT label,
         CAST(list_sum(list_transform(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000.0)
                          AS BIGINT))) AS BIGINT) AS norm2_micro
  FROM embeddings
)
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(norm2_micro) AS BIGINT) AS sum_norm2_micro,
       MIN(norm2_micro) AS min_norm2_micro, MAX(norm2_micro) AS max_norm2_micro
FROM n GROUP BY label
"""


@_register(
    "embedding_norm_stats",
    _NORM_STATS_ORACLE,
    doc="Per-label embedding norm audit: squared-L2 norm per vector as an "
    "integer micro-unit fold (x², floored per element, integer sum — no "
    "float accumulation order exists, same determinism recipe as "
    "embedding_quantize), then per-label count/sum/min/max in one hash "
    "aggregate. The drift detector run before/after every embedding "
    "refresh; narrow map over the vector column, one label-keyed "
    "shuffle of four numbers per label.",
)
def embedding_norm_stats(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    terms = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * x.cast("double") * 1000000.0).cast(
            "long"
        ),
    )
    norm2 = F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (
        emb.select("label", norm2.alias("norm2_micro"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("norm2_micro").alias("sum_norm2_micro"),
            F.min("norm2_micro").alias("min_norm2_micro"),
            F.max("norm2_micro").alias("max_norm2_micro"),
        )
    )


_WEEKLY_GROWTH_ORACLE = """
WITH w AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM orders GROUP BY 1
)
SELECT week, n, LAG(n) OVER (ORDER BY week) AS prev_n,
       CAST(n - LAG(n) OVER (ORDER BY week) AS BIGINT) AS delta
FROM w
"""


@_register(
    "weekly_order_growth",
    _WEEKLY_GROWTH_ORACLE,
    doc="Week-over-week order volume with lag delta — the trend readout of "
    "every operations dashboard. The data-sized work is one partial+final "
    "hash aggregate to week grain; the lag window then runs over "
    "one-row-per-week (bounded by the calendar, not the data), which is "
    "the ONLY place a global-order window is acceptable at scale — the "
    "relation it sorts cannot grow with the data.",
)
def weekly_order_growth(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    wk = orders.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias("week")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("week")
    prev = F.lag("n").over(w)
    return wk.select(
        "week",
        "n",
        prev.alias("prev_n"),
        (F.col("n") - prev).cast("long").alias("delta"),
    )


_IQR_ORACLE = """
WITH v AS (
  SELECT event_id, event_type, CAST(FLOOR(value * 1000) AS BIGINT) AS x FROM events
), r AS (
  SELECT event_type, x,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY x, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS cnt
  FROM v
), q AS (
  SELECT event_type,
         MAX(CASE WHEN rn = CAST(CEIL(0.25 * cnt) AS BIGINT) THEN x END) AS p25,
         MAX(CASE WHEN rn = CAST(CEIL(0.75 * cnt) AS BIGINT) THEN x END) AS p75
  FROM r GROUP BY event_type
)
SELECT v.event_type, MAX(q.p25) AS p25_milli, MAX(q.p75) AS p75_milli,
       CAST(COUNT(*) FILTER (v.x < q.p25 - 3 * (q.p75 - q.p25)
                          OR v.x > q.p75 + 3 * (q.p75 - q.p25)) AS BIGINT)
         AS n_outliers,
       CAST(COUNT(*) AS BIGINT) AS n
FROM v JOIN q ON v.event_type = q.event_type
GROUP BY v.event_type
"""


@_register(
    "iqr_outliers",
    _IQR_ORACLE,
    doc="Tukey-fence outlier census per event type: exact p25/p75 on "
    "integer milli-units, fences at 3×IQR, outliers counted from the "
    "same histogram that produced the quartiles — quartile selection "
    "AND the census are both computed over per-(type, value) counts "
    "(the histogram discipline of the re-planned rank-selection "
    "family), so raw rows cross one shuffle as triples and no second "
    "scan exists. The robust complement to anomaly_zscore when the "
    "distribution is heavy-tailed.",
)
def iqr_outliers(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("x")
    )
    h = v.groupBy("event_type", "x").agg(F.count(F.lit(1)).alias("c"))
    wrun = (
        Window.partitionBy("event_type")
        .orderBy("x")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = Window.partitionBy("event_type")
    r = h.select(
        "event_type",
        "x",
        "c",
        (F.sum("c").over(wrun) - F.col("c")).alias("cum_prev"),
        F.sum("c").over(wrun).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )

    def at(p: float, name: str):
        rank = F.ceil(F.lit(p) * F.col("n"))
        return r.where((rank > F.col("cum_prev")) & (rank <= F.col("cum"))).select(
            "event_type", F.col("x").alias(name)
        )

    q = at(0.25, "p25").join(at(0.75, "p75"), "event_type")
    iqr = F.col("p75") - F.col("p25")
    is_out = (F.col("x") < F.col("p25") - 3 * iqr) | (
        F.col("x") > F.col("p75") + 3 * iqr
    )
    return (
        h.join(F.broadcast(q), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("p25").alias("p25_milli"),
            F.max("p75").alias("p75_milli"),
            F.sum(F.when(is_out, F.col("c")).otherwise(F.lit(0))).alias(
                "n_outliers"
            ),
            F.sum("c").alias("n"),
        )
    )


_TOP_NGRAM_LANG_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT lang, array_to_string(w[i:i+1], ' ') AS bigram
  FROM toks, unnest(range(1, len(w))) AS t(i)
), c AS (
  SELECT lang, bigram, CAST(COUNT(*) AS BIGINT) AS n FROM bg GROUP BY lang, bigram
), r AS (
  SELECT lang, bigram, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
  FROM c
)
SELECT lang, bigram, n FROM r WHERE rk <= 3
"""


@_register(
    "top_ngram_per_lang",
    _TOP_NGRAM_LANG_ORACLE,
    doc="Top-3 bigrams per language: explode token bigrams, partial+final "
    "hash-count per (lang, bigram), then a per-lang top-k that plans as "
    "WindowGroupLimit — each map task keeps only its local top "
    "candidates, so the window input is pruned BEFORE the exchange and "
    "the sort never sees the full bigram vocabulary. Deterministic "
    "tie-break (count desc, bigram asc). The per-group flavor of "
    "text_ngram_freq's global top-20.",
)
def top_ngram_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    # The >=2 filter sits on toks, BEFORE the generator: sequence(0,
    # size(w)-2) on a 0/1-token doc is descending and element_at(w, 0)
    # errors at runtime — correctness must not depend on Catalyst pushing
    # a later .where below the Generate (ADVICE r4).
    toks = docs.select("lang", T.words(F.lower(F.col("text"))).alias("w")).where(
        F.size("w") >= 2
    )
    bg = toks.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 2),
                lambda i: F.concat_ws(
                    " ", F.element_at("w", i + 1), F.element_at("w", i + 2)
                ),
            )
        ).alias("bigram"),
    )
    c = bg.groupBy("lang", "bigram").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("bigram"))
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select("lang", "bigram", "n")
    )


_SHARD_BALANCE_ORACLE = """
WITH s AS (
  SELECT ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 16 AS shard,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_shards, CAST(SUM(n) AS BIGINT) AS n_docs,
       MIN(n) AS min_docs, MAX(n) AS max_docs,
       CAST(MAX(n) AS DOUBLE) * COUNT(*) / SUM(n) AS max_skew
FROM s
"""


@_register(
    "shard_balance_audit",
    _SHARD_BALANCE_ORACLE,
    doc="Shard-balance audit for the corpus packer's md5 sharding: per-"
    "shard document counts reduced to a one-row balance report "
    "(max/mean skew ratio — 1.0 is perfect). First aggregate is data-"
    "sized and partial+final on the shard key; the second runs over "
    "`shards` rows. The go/no-go check before committing a shard layout "
    "for a 100 TB write (a skew ratio of 2 means the slowest writer "
    "does 2× the work).",
)
def shard_balance_audit(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    shard = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 16
    s = docs.groupBy(shard.alias("shard")).agg(F.count(F.lit(1)).alias("n"))
    return s.agg(
        F.count(F.lit(1)).alias("n_shards"),
        F.sum("n").alias("n_docs"),
        F.min("n").alias("min_docs"),
        F.max("n").alias("max_docs"),
        (
            F.max("n").cast("double")
            * F.count(F.lit(1))
            / F.sum("n")
        ).alias("max_skew"),
    )


_CONVERSION_LAG_ORACLE = """
SELECT user_id,
       CAST(epoch_us(MIN(CASE WHEN event_type = 'purchase' THEN ts END))
            - epoch_us(MIN(ts)) AS BIGINT) AS lag_us
FROM events GROUP BY user_id
HAVING MIN(CASE WHEN event_type = 'purchase' THEN ts END) IS NOT NULL
"""


@_register(
    "purchase_conversion_lag",
    _CONVERSION_LAG_ORACLE,
    doc="Time-to-first-purchase per user: first purchase timestamp minus "
    "first-ever event timestamp, users who never purchased excluded — "
    "the conversion-latency input to funnel models. ONE conditional "
    "hash aggregate (no join of firsts, no window): both minima partial-"
    "aggregate map-side and the subtraction is exact integer "
    "microseconds.",
)
def purchase_conversion_lag(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    first_purchase = F.min(
        F.when(F.col("event_type") == "purchase", F.col("ts"))
    )
    out = ev.groupBy("user_id").agg(
        (
            F.unix_micros(first_purchase.cast("timestamp"))
            - F.unix_micros(F.min("ts").cast("timestamp"))
        ).alias("lag_us")
    )
    return out.where(F.col("lag_us").isNotNull())


_SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1997-09-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@_register(
    "sql_tpch_q1",
    _SQL_Q1,
    doc="The SQL-API surface end-to-end: the TPC-H Q1 pricing-summary "
    "shape submitted as a raw ANSI string through spark.sql over the "
    "registered table views — the ONE SQL text is both the Spark query "
    "and the DuckDB oracle, so dialect-portability and hash-equality "
    "are checked together. Exact-decimal sums with one final cast "
    "(order-independent bitwise results, the engine's aggregate "
    "discipline); Catalyst plans the identical partial+final hash "
    "aggregate it gives the DataFrame twin (agg_groupby).",
)
def sql_tpch_q1(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.sources.testdata import register_views

    register_views(spark, sf)
    return spark.sql(_SQL_Q1)


@_register(
    "events_dow_hour_heatmap",
    "SELECT CAST(isodow(ts) AS BIGINT) AS dow, CAST(hour(ts) AS BIGINT) AS hr, "
    "CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2",
    doc="Activity heatmap: event counts by ISO day-of-week × hour — the "
    "seasonality readout behind traffic-aware sampling and load "
    "scheduling. One partial+final hash aggregate over a 7×24-bounded "
    "key space; dialect note: Spark weekday() (0=Mon) + 1 equals "
    "DuckDB isodow (1=Mon), asserted by the oracle pairing.",
)
def events_dow_hour_heatmap(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(
            (F.weekday("ts") + 1).cast("long").alias("dow"),
            F.hour("ts").cast("long").alias("hr"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


_TABLE_PROFILE_ORACLE = """
WITH a AS (
  SELECT
    CAST(COUNT(*) FILTER (doc_id IS NULL) AS BIGINT) AS doc_id_nulls,
    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS doc_id_distinct,
    CAST(MIN(doc_id) AS BIGINT) AS doc_id_min,
    CAST(MAX(doc_id) AS BIGINT) AS doc_id_max,
    CAST(COUNT(*) FILTER (lang IS NULL) AS BIGINT) AS lang_nulls,
    CAST(COUNT(DISTINCT lang) AS BIGINT) AS lang_distinct,
    CAST(MIN(len(lang)) AS BIGINT) AS lang_min,
    CAST(MAX(len(lang)) AS BIGINT) AS lang_max,
    CAST(COUNT(*) FILTER (source IS NULL) AS BIGINT) AS source_nulls,
    CAST(COUNT(DISTINCT source) AS BIGINT) AS source_distinct,
    CAST(MIN(len(source)) AS BIGINT) AS source_min,
    CAST(MAX(len(source)) AS BIGINT) AS source_max,
    CAST(COUNT(*) FILTER (text IS NULL) AS BIGINT) AS text_nulls,
    CAST(COUNT(DISTINCT text) AS BIGINT) AS text_distinct,
    CAST(MIN(len(text)) AS BIGINT) AS text_min,
    CAST(MAX(len(text)) AS BIGINT) AS text_max
  FROM documents
)
SELECT 'doc_id' AS col, doc_id_nulls AS n_nulls, doc_id_distinct AS n_distinct,
       doc_id_min AS min_v, doc_id_max AS max_v FROM a
UNION ALL
SELECT 'lang', lang_nulls, lang_distinct, lang_min, lang_max FROM a
UNION ALL
SELECT 'source', source_nulls, source_distinct, source_min, source_max FROM a
UNION ALL
SELECT 'text', text_nulls, text_distinct, text_min, text_max FROM a
"""


@_register(
    "table_profile",
    _TABLE_PROFILE_ORACLE,
    doc="One-pass column profile of the documents table: nulls, distinct "
    "count and min/max (value for numerics, length for strings) for "
    "every column, then an in-row unpivot to one report row per column "
    "— the schema-health snapshot run before any corpus is accepted. "
    "ONE scan computes all 16 statistics as a single aggregate row "
    "(count_distinct expands to Spark's standard two-phase plan); the "
    "stack() unpivot touches one row. No per-column rescans.",
)
def table_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")

    def stats(col, numeric):
        v = F.col(col)
        mv = v if numeric else F.length(v)
        return [
            F.count(F.when(v.isNull(), 1)).alias(f"{col}_nulls"),
            F.countDistinct(v).alias(f"{col}_distinct"),
            F.min(mv).cast("long").alias(f"{col}_min"),
            F.max(mv).cast("long").alias(f"{col}_max"),
        ]

    a = docs.agg(
        *(
            stats("doc_id", True)
            + stats("lang", False)
            + stats("source", False)
            + stats("text", False)
        )
    )
    cols = ["doc_id", "lang", "source", "text"]
    stack = ", ".join(
        f"'{c}', {c}_nulls, {c}_distinct, {c}_min, {c}_max" for c in cols
    )
    return a.selectExpr(
        f"stack({len(cols)}, {stack}) AS (col, n_nulls, n_distinct, min_v, max_v)"
    )


_VOCAB_COVERAGE_ORACLE = """
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS t
  FROM documents
), c AS (
  SELECT lang, t, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY lang, t
), r AS (
  SELECT lang, n,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, t) AS rk
  FROM c
)
SELECT lang, CAST(SUM(n) AS BIGINT) AS total_tokens,
       CAST(SUM(CASE WHEN rk <= 1000 THEN n ELSE 0 END) AS BIGINT)
         AS covered_tokens,
       CAST(SUM(CASE WHEN rk <= 1000 THEN n ELSE 0 END) AS DOUBLE) / SUM(n)
         AS coverage
FROM r GROUP BY lang
"""


@_register(
    "vocab_coverage",
    _VOCAB_COVERAGE_ORACLE,
    doc="Vocabulary coverage: what fraction of each language's token "
    "stream the top-1000 most frequent tokens cover — the go/no-go "
    "readout for vocabulary/tokenizer sizing. Token counts hash-"
    "aggregate (partial+final) to a vocabulary-sized relation; the rank "
    "window and the coverage aggregate both run over (lang, token) "
    "counts, never raw tokens, so the fact-table scan crosses one "
    "shuffle as count triples. Deterministic rank tie-break (freq "
    "desc, token asc); integer sums, one final double division.",
)
def vocab_coverage(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    tok = docs.select(
        "lang", F.explode(T.words(F.lower(F.col("text")))).alias("t")
    )
    c = tok.groupBy("lang", "t").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("t"))
    r = c.withColumn("rk", F.row_number().over(w))
    covered = F.sum(F.when(F.col("rk") <= 1000, F.col("n")).otherwise(F.lit(0)))
    return r.groupBy("lang").agg(
        F.sum("n").alias("total_tokens"),
        covered.alias("covered_tokens"),
        (covered.cast("double") / F.sum("n")).alias("coverage"),
    )


_LATE_AUDIT_ORACLE = """
WITH m AS (
  SELECT event_type, MAX(ts) AS mx FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) FILTER (epoch_us(m.mx) - epoch_us(e.ts) > 86400000000)
            AS BIGINT) AS n_older_1d,
       CAST(COUNT(*) AS BIGINT) AS n
FROM events e JOIN m ON e.event_type = m.event_type
GROUP BY e.event_type
"""


@_register(
    "late_data_audit",
    _LATE_AUDIT_ORACLE,
    doc="Late-data audit: per event type, how many rows sit more than one "
    "day behind that type's high-water mark — the batch preview of what "
    "a streaming watermark of that lag would drop (T3's sizing input). "
    "Per-type maxima are a tiny aggregate broadcast back onto the "
    "stream (the anomaly_zscore join shape); the census is one more "
    "conditional aggregate. Exact integer microseconds.",
)
def late_data_audit(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    m = ev.groupBy("event_type").agg(F.max("ts").alias("mx"))
    late = (
        F.unix_micros(F.col("mx").cast("timestamp"))
        - F.unix_micros(F.col("ts").cast("timestamp"))
    ) > 86400000000
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.when(late, 1)).alias("n_older_1d"),
            F.count(F.lit(1)).alias("n"),
        )
    )


_DUP_RATE_ORACLE = """
WITH d AS (
  SELECT doc_id, source, md5(text) AS dg FROM documents
), c AS (
  SELECT dg, CAST(COUNT(*) AS BIGINT) AS k FROM d GROUP BY dg
)
SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (c.k > 1) AS BIGINT) AS n_dup_docs,
       CAST(COUNT(*) FILTER (c.k > 1) AS DOUBLE) / COUNT(*) AS dup_rate
FROM d JOIN c ON d.dg = c.dg
GROUP BY d.source
"""


@_register(
    "dup_rate_by_source",
    _DUP_RATE_ORACLE,
    doc="Duplication rate per source: share of a source's documents whose "
    "exact content digest appears more than once corpus-WIDE — the "
    "provenance diagnostic that tells you which crawl re-serves content "
    "others already contributed (per-source dedup would miss cross-"
    "source copies). Rows reduce to 16-byte digests before the count "
    "join (dedup_exact's digest-only shuffle discipline); the digest "
    "count relation joins back keyed on the digest. Integer counts, "
    "one final double division.",
)
def dup_rate_by_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    d = docs.select("doc_id", "source", F.md5("text").alias("dg"))
    c = d.groupBy("dg").agg(F.count(F.lit(1)).alias("k"))
    dup = F.count(F.when(F.col("k") > 1, 1))
    return (
        d.join(c, "dg")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            dup.alias("n_dup_docs"),
            (dup.cast("double") / F.count(F.lit(1))).alias("dup_rate"),
        )
    )


_ORDER_SIZE_HIST_ORACLE = """
WITH per_order AS (
  SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT n_lines, CAST(COUNT(*) AS BIGINT) AS n_orders
FROM per_order GROUP BY n_lines
"""


@_register(
    "order_size_histogram",
    _ORDER_SIZE_HIST_ORACLE,
    doc="Fact-table shape profile: distribution of lineitems per order — "
    "the first diagnostic for join fan-out planning (a fat tail here is "
    "what makes the co-purchase edge build quadratic per order). Two "
    "hash aggregates: the first is data-sized and partial+final on the "
    "order key, the second runs over one row per order and reduces to "
    "the tiny distinct-count domain.",
)
def order_size_histogram(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    return per_order.groupBy("n_lines").agg(F.count(F.lit(1)).alias("n_orders"))


_TOP_CUSTOMER_ORACLE = """
WITH spend AS (
  SELECT o_orderpriority, o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY o_orderpriority, o_custkey
), r AS (
  SELECT o_orderpriority, o_custkey, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents DESC, o_custkey) AS rk
  FROM spend
)
SELECT o_orderpriority, o_custkey AS top_custkey, cents AS spend_cents
FROM r WHERE rk = 1
"""


@_register(
    "top_customer_by_priority",
    _TOP_CUSTOMER_ORACLE,
    doc="Argmax per group over an aggregate: the highest-spending customer "
    "per order priority. Spend pre-aggregates to one row per (priority, "
    "customer) — partial+final, data-sized — and the rank-1 selection "
    "plans as WindowGroupLimit over that reduced relation, so each map "
    "task forwards only its local leader. Exact integer cents "
    "(floor(o_totalprice*100) — floor, not cast: DuckDB's double→BIGINT cast rounds while Spark's truncates); "
    "deterministic tie-break on customer key.",
)
def top_customer_by_priority(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    spend = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    return (
        spend.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            "o_orderpriority",
            F.col("o_custkey").alias("top_custkey"),
            F.col("cents").alias("spend_cents"),
        )
    )


_RECENCY_ORACLE = """
SELECT o_custkey,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       MAX(o_orderdate) AS last_order,
       CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE), DATE '1998-12-31')
            AS BIGINT) AS days_inactive
FROM orders GROUP BY o_custkey
"""


@_register(
    "customer_order_recency",
    _RECENCY_ORACLE,
    doc="Recency/frequency profile per customer: order count, last order "
    "date and whole days of inactivity against the dataset's reference "
    "end date — the R and F of RFM segmentation (top_customer_by_"
    "priority supplies the M). One partial+final hash aggregate on the "
    "customer key; date arithmetic on DATE-truncated values so both "
    "engines count identical whole days.",
)
def customer_order_recency(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    last = F.max("o_orderdate")
    return orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        last.alias("last_order"),
        F.datediff(F.lit("1998-12-31").cast("date"), last.cast("date"))
        .cast("long")
        .alias("days_inactive"),
    )


_SUPPLIER_COVERAGE_ORACLE = """
WITH sp AS (
  SELECT l_suppkey, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts
  FROM lineitem GROUP BY l_suppkey
), tot AS (
  SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS total_parts FROM lineitem
)
SELECT sp.l_suppkey, sp.n_parts, tot.total_parts,
       CAST(sp.n_parts AS DOUBLE) / tot.total_parts AS coverage
FROM sp CROSS JOIN tot
"""


@_register(
    "supplier_coverage",
    _SUPPLIER_COVERAGE_ORACLE,
    doc="Catalog coverage per supplier: distinct parts shipped over the "
    "distinct parts in the whole fact table — the assortment-breadth "
    "metric. Two distinct-aggregates (each Spark's standard two-phase "
    "expand plan); the 1-row grand total broadcasts onto the per-"
    "supplier relation (the stat-assembly cross join that is bounded "
    "by construction). Integer counts, one double division.",
)
def supplier_coverage(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    sp = li.groupBy("l_suppkey").agg(
        F.countDistinct("l_partkey").alias("n_parts")
    )
    tot = li.agg(F.countDistinct("l_partkey").alias("total_parts"))
    return sp.crossJoin(F.broadcast(tot)).select(
        "l_suppkey",
        "n_parts",
        "total_parts",
        (F.col("n_parts").cast("double") / F.col("total_parts")).alias("coverage"),
    )


_CHAR_CLASS_ORACLE = """
SELECT lang,
       CAST(SUM(len(text)) AS BIGINT) AS n_chars,
       CAST(SUM(len(regexp_extract_all(text, '[a-zA-Z]'))) AS BIGINT) AS n_letters,
       CAST(SUM(len(regexp_extract_all(text, '[0-9]'))) AS BIGINT) AS n_digits,
       CAST(SUM(len(regexp_extract_all(text, '\\s'))) AS BIGINT) AS n_spaces
FROM documents GROUP BY lang
"""


@_register(
    "text_char_class_profile",
    _CHAR_CLASS_ORACLE,
    doc="Character-class census per language: letters, digits and "
    "whitespace counted with ASCII-simple regexes both engines "
    "interpret identically — the input statistics for tokenizer and "
    "quality-threshold tuning (N4 family, the character-level "
    "complement of text_quality's token ratios). Pure codegen "
    "regexp_count in one partial+final aggregate; no explode, no "
    "Python.",
)
def text_char_class_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.groupBy("lang").agg(
        F.sum(F.length("text")).alias("n_chars"),
        F.sum(F.regexp_count("text", F.lit("[a-zA-Z]"))).alias("n_letters"),
        F.sum(F.regexp_count("text", F.lit("[0-9]"))).alias("n_digits"),
        F.sum(F.regexp_count("text", F.lit(r"\s"))).alias("n_spaces"),
    )


_ERROR_RATE_ORACLE = """
SELECT date_trunc('hour', ts) AS hour,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(*) FILTER (event_type = 'error') AS BIGINT) AS n_errors,
       CAST(COUNT(*) FILTER (event_type = 'error') AS DOUBLE) / COUNT(*)
         AS error_rate
FROM events GROUP BY 1
"""


@_register(
    "error_rate_hourly",
    _ERROR_RATE_ORACLE,
    doc="Hourly error rate: total, error count and share per hour bucket — "
    "the SLO burn-rate input. One conditional partial+final hash "
    "aggregate over calendar-bounded keys; integer counts, one double "
    "division per output row.",
)
def error_rate_hourly(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    errs = F.count(F.when(F.col("event_type") == "error", 1))
    return ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("n"),
        errs.alias("n_errors"),
        (errs.cast("double") / F.count(F.lit(1))).alias("error_rate"),
    )


_PRICE_SPREAD_ORACLE = """
WITH s AS (
  SELECT l_partkey,
         CAST(FLOOR(MIN(l_extendedprice) * 100) AS BIGINT) AS min_cents,
         CAST(FLOOR(MAX(l_extendedprice) * 100) AS BIGINT) AS max_cents,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, min_cents, max_cents, max_cents - min_cents AS spread_cents, n
FROM s ORDER BY spread_cents DESC, l_partkey LIMIT 20
"""


@_register(
    "part_price_spread",
    _PRICE_SPREAD_ORACLE,
    doc="Top-20 parts by price spread: per-part min/max (floored to exact "
    "cents) aggregate first — data-sized, partial+final — then a global "
    "top-k over the part-sized relation that plans as "
    "TakeOrderedAndProject (per-partition top-20, no global sort). The "
    "price-dispersion screen of procurement analytics; deterministic "
    "tie-break on part key.",
)
def part_price_spread(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    s = li.groupBy("l_partkey").agg(
        F.floor(F.min("l_extendedprice") * 100).cast("long").alias("min_cents"),
        F.floor(F.max("l_extendedprice") * 100).cast("long").alias("max_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        s.select(
            "l_partkey",
            "min_cents",
            "max_cents",
            (F.col("max_cents") - F.col("min_cents")).alias("spread_cents"),
            "n",
        )
        .orderBy(F.col("spread_cents").desc(), F.col("l_partkey"))
        .limit(20)
    )


_NULLSAFE_JOIN_ORACLE = """
WITH a AS (
  SELECT NULLIF(l_linenumber % 5, 0) AS k, CAST(COUNT(*) AS BIGINT) AS n_left
  FROM lineitem GROUP BY 1
), b AS (
  SELECT NULLIF(CAST(o_orderkey % 5 AS INT), 0) AS k,
         CAST(COUNT(*) AS BIGINT) AS n_right
  FROM orders GROUP BY 1
)
SELECT a.k, a.n_left, b.n_right
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
"""


@_register(
    "join_null_safe",
    _NULLSAFE_JOIN_ORACLE,
    doc="Null-safe equality join: Spark's <=> (eqNullSafe) against "
    "DuckDB's IS NOT DISTINCT FROM — NULL keys MATCH each other instead "
    "of vanishing, the semantic needed when a bucketing key legitimately "
    "contains NULL (here manufactured via NULLIF on both sides). Both "
    "inputs pre-aggregate to key-cardinality relations before the join, "
    "and null-safe equality remains a hashable equi-join key in both "
    "engines — no fallback to nested loops.",
)
def join_null_safe(spark: SparkSession, sf: str) -> DataFrame:
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    a = li.groupBy(
        F.nullif(F.col("l_linenumber") % 5, F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("n_left"))
    b = orders.groupBy(
        F.nullif((F.col("o_orderkey") % 5).cast("int"), F.lit(0)).alias("k")
    ).agg(F.count(F.lit(1)).alias("n_right"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"], "n_left", "n_right"
    )


# ---------------------------------------------------------------------------
# round 5 tranche — corpus observability, dedup funnel, retrieval, pareto
# ---------------------------------------------------------------------------

_STOP_SHINGLE_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, unnest(shingles) AS shingle FROM sh
), c AS (
  SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY shingle
)
SELECT shingle, df,
       CAST(df * 1000000 // (SELECT COUNT(*) FROM sh) AS BIGINT) AS df_ppm
FROM c WHERE df >= 2
ORDER BY df DESC, shingle
LIMIT 50
"""


@_register(
    "stop_shingle_report",
    _STOP_SHINGLE_ORACLE,
    doc="Boilerplate observability: the 50 most document-frequent word-3-"
    "gram shingles (df ≥ 2) with doc-frequency in exact integer ppm — "
    "the report a corpus owner reads to SET the stop-shingle cap that "
    "shingle_containment/dedup_ngram_jaccard apply (templates, headers, "
    "license blurbs surface here first). Shingles stay strings for "
    "interpretability; one hash aggregate on the shingle reduces the "
    "exploded stream map-side, the doc total arrives as a broadcast "
    "1-row cross join (no driver scalar), and top-50 plans as "
    "TakeOrderedAndProject with a unique (df desc, shingle) total "
    "order. Integer div, no float anywhere.",
)
def stop_shingle_report(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_shingles

    docs = load_table(spark, sf, "documents")
    sh = docs.select(word_shingles(F.col("text"), 3).alias("shingles"))
    total = sh.agg(F.count(F.lit(1)).alias("n_docs"))
    c = (
        sh.select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return (
        c.where(F.col("df") >= 2)
        .crossJoin(F.broadcast(total))
        .select(
            "shingle", "df", F.expr("df * 1000000 div n_docs").alias("df_ppm")
        )
        .orderBy(F.col("df").desc(), "shingle")
        .limit(50)
    )


_TOKLEN_ORACLE = """
WITH tok AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS t
  FROM documents
)
SELECT CAST(len(t) AS INT) AS tok_len, CAST(COUNT(*) AS BIGINT) AS n
FROM tok GROUP BY 1
"""


@_register(
    "token_len_histogram",
    _TOKLEN_ORACLE,
    doc="Token-length distribution over the whole corpus — the tokenizer-"
    "design readout (subword budget sizing, outlier-token detection) "
    "next to doc_length_histogram's per-document view. Explode + one "
    "hash aggregate keyed on a tiny int domain: partial aggregation "
    "collapses the token stream map-side to ≤ max-length rows per "
    "task, so the shuffle carries a few dozen rows per partition "
    "regardless of corpus size.",
)
def token_len_histogram(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(T.words(F.lower(F.col("text")))).alias("t"))
        .select(F.length("t").alias("tok_len"))
        .groupBy("tok_len")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_CASCADE_ORACLE = """
WITH a AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n0,
         CAST(COUNT(DISTINCT sha256(text)) AS BIGINT) AS n1,
         CAST(COUNT(DISTINCT md5(substring(text, 1, 256))) AS BIGINT) AS n2,
         CAST(COUNT(DISTINCT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))))
              AS BIGINT) AS n3
  FROM documents
)
SELECT '0_raw' AS stage, n0 AS n_surviving FROM a
UNION ALL SELECT '1_exact_sha', n1 FROM a
UNION ALL SELECT '2_prefix256', n2 FROM a
UNION ALL SELECT '3_normalized', n3 FROM a
"""


@_register(
    "dedup_cascade_funnel",
    _CASCADE_ORACLE,
    doc="Dedup funnel: surviving-document counts under each rung of the "
    "standard cascade — raw → exact (sha256) → 256-char-prefix (md5) → "
    "whitespace/case-normalized — the one-glance report that says which "
    "dedup stage actually pays for itself on a corpus before running "
    "the expensive near-dup passes. ONE scan computes all four counts "
    "(multi-countDistinct expands in-plan); digests are fixed-width "
    "JVM-side hashes so the distinct state is bounded per stage; the "
    "4-row unpivot is an in-row stack. Same single-scan discipline as "
    "table_profile.",
)
def dedup_cascade_funnel(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    a = docs.agg(
        F.count(F.lit(1)).alias("n0"),
        F.countDistinct(F.sha2(F.col("text"), 256)).alias("n1"),
        F.countDistinct(F.md5(F.substring(F.col("text"), 1, 256))).alias("n2"),
        F.countDistinct(F.md5(norm)).alias("n3"),
    )
    return a.selectExpr(
        "stack(4, '0_raw', n0, '1_exact_sha', n1, '2_prefix256', n2, "
        "'3_normalized', n3) AS (stage, n_surviving)"
    )


_USER_GINI_ORACLE = """
WITH c AS (
  SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_s
  FROM events GROUP BY user_id, event_type
), m AS (
  SELECT user_id, SUM(n_s) AS n, SUM(n_s * n_s) AS ss FROM c GROUP BY user_id
)
SELECT user_id, CAST(n AS BIGINT) AS n_events,
       CAST(((n * n - ss) * 1000000) // (n * n) AS BIGINT) AS gini_micro
FROM m
"""


@_register(
    "user_type_gini",
    _USER_GINI_ORACLE,
    doc="Behavioral-diversity Gini impurity per user over event types, in "
    "exact integer micro-units (the lang_source_gini integer recipe on "
    "the events stream): bots hammer one event type (gini→0), organic "
    "users spread (gini→max). Two cascading hash aggregates, both "
    "map-side partial — the second runs over |users|×|types| rows. "
    "Every operand BIGINT; zero float drift possible.",
)
def user_type_gini(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n_s"))
    m = c.groupBy("user_id").agg(
        F.sum("n_s").alias("n"), F.sum(F.col("n_s") * F.col("n_s")).alias("ss")
    )
    return m.select(
        "user_id",
        F.col("n").alias("n_events"),
        F.expr("((n * n - ss) * 1000000) div (n * n)").alias("gini_micro"),
    )


_PARETO_ORACLE = """
WITH spend AS (
  SELECT o_orderpriority, o_custkey,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), r AS (
  SELECT o_orderpriority, cents,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY cents DESC, o_custkey) AS rk,
         SUM(cents) OVER (PARTITION BY o_orderpriority
                          ORDER BY cents DESC, o_custkey
                          ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cents) OVER (PARTITION BY o_orderpriority) AS total,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS nc
  FROM spend
)
SELECT o_orderpriority, CAST(MIN(rk) AS BIGINT) AS n_customers_half,
       CAST(MIN(nc) AS BIGINT) AS n_customers,
       CAST(MIN(total) AS BIGINT) AS total_cents
FROM r WHERE 2 * cum >= total GROUP BY 1
"""


@_register(
    "orders_pareto",
    _PARETO_ORACLE,
    doc="Pareto concentration per order priority: the minimum number of "
    "customers whose (deterministically ranked) spend covers half the "
    "priority's revenue — the 80/20 readout that decides whether a "
    "sampling or quota strategy can key on customers. Spend pre-"
    "aggregates to one row per (priority, customer); every window runs "
    "over that reduced relation on ONE priority-keyed exchange "
    "(running sum, rank, partition totals share the frame), and the "
    "answer is a priority-cardinality aggregate. Exact integer cents "
    "(floor ×100 — floor, not cast: DuckDB rounds, Spark truncates); "
    "ties broken on customer key.",
)
def orders_pareto(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    spend = orders.groupBy("o_orderpriority", "o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias("cents")
    )
    wo = Window.partitionBy("o_orderpriority").orderBy(
        F.col("cents").desc(), F.col("o_custkey")
    )
    wp = Window.partitionBy("o_orderpriority")
    r = spend.select(
        "o_orderpriority",
        "cents",
        F.row_number().over(wo).alias("rk"),
        F.sum("cents").over(wo.rowsBetween(Window.unboundedPreceding, 0)).alias("cum"),
        F.sum("cents").over(wp).alias("total"),
        F.count(F.lit(1)).over(wp).alias("nc"),
    )
    return (
        r.where(2 * F.col("cum") >= F.col("total"))
        .groupBy("o_orderpriority")
        .agg(
            F.min("rk").cast("long").alias("n_customers_half"),
            F.min("nc").cast("long").alias("n_customers"),
            F.min("total").alias("total_cents"),
        )
    )


_BM25_ORACLE = """
WITH d AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), pd AS (
  SELECT doc_id, len(w) AS dl,
         len(list_filter(w, x -> x = 'spark')) AS tf1,
         len(list_filter(w, x -> x = 'query')) AS tf2,
         len(list_filter(w, x -> x = 'window')) AS tf3
  FROM d
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(dl) AS BIGINT) AS sum_dl,
         CAST(COUNT(*) FILTER (tf1 > 0) AS BIGINT) AS df1,
         CAST(COUNT(*) FILTER (tf2 > 0) AS BIGINT) AS df2,
         CAST(COUNT(*) FILTER (tf3 > 0) AS BIGINT) AS df3
  FROM pd
)
SELECT doc_id,
       ((CAST(n_docs - df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
         * ((CAST(tf1 AS DOUBLE) * 2.2)
            / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       + ((CAST(n_docs - df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
         * ((CAST(tf2 AS DOUBLE) * 2.2)
            / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       + ((CAST(n_docs - df3 AS DOUBLE) + 0.5) / (CAST(df3 AS DOUBLE) + 0.5))
         * ((CAST(tf3 AS DOUBLE) * 2.2)
            / (CAST(tf3 AS DOUBLE) + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE)
               / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       AS score
FROM pd CROSS JOIN s
ORDER BY score DESC, doc_id
LIMIT 20
"""


@_register(
    "bm25_topk",
    _BM25_ORACLE,
    doc="BM25 retrieval (rational-idf variant) for a 3-term query "
    "('spark query window'), top-20 documents: per-doc term frequencies "
    "and length compute IN-ROW via list HOFs over the token array — no "
    "explode, no shuffle on the token stream; corpus stats (N, Σdl, "
    "per-term df) reduce to ONE tiny row that re-enters as a broadcast "
    "cross join; the score is a single fixed-shape IEEE expression "
    "(integer operands, left-assoc 3-term sum — bitwise identical "
    "cross-engine, which is why idf is the rational (N-df+.5)/(df+.5) "
    "rather than its log: ln() is libm-dependent); top-20 plans as "
    "TakeOrderedAndProject with doc_id tie-break. k1=1.2, b=0.75.",
)
def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    w = T.words(F.lower(F.col("text")))
    def tf_of(t):
        # single-arg closure: a 2-arg lambda would make F.filter pass the
        # element INDEX as the second argument
        return F.size(F.filter(w, lambda x: x == t))

    pd_ = docs.select(
        "doc_id",
        F.size(w).alias("dl"),
        *[
            tf_of(t).alias(f"tf{i + 1}")
            for i, t in enumerate(("spark", "query", "window"))
        ],
    )
    s = pd_.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("sum_dl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).alias(f"df{i}")
            for i in (1, 2, 3)
        ],
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs").cast("double")
    norm = 1.2 * (0.25 + 0.75 * (F.col("dl").cast("double") / avgdl))

    def term(i: int):
        tf = F.col(f"tf{i}").cast("double")
        wt = (F.col("n_docs") - F.col(f"df{i}")).cast("double") + 0.5
        return (wt / (F.col(f"df{i}").cast("double") + 0.5)) * (
            (tf * 2.2) / (tf + norm)
        )

    return (
        pd_.crossJoin(F.broadcast(s))
        .select("doc_id", (term(1) + term(2) + term(3)).alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(20)
    )


_SOURCE_MATRIX_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id AS id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), keep AS (
  SELECT shingle FROM ex GROUP BY shingle
  HAVING COUNT(*) <= 0.10 * (SELECT COUNT(*) FROM sh)
), exk AS (
  SELECT ex.* FROM ex JOIN keep USING (shingle)
), pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY a.id, b.id, a.n_sh, b.n_sh
  HAVING greatest(CAST(COUNT(*) AS DOUBLE) / a.n_sh,
                  CAST(COUNT(*) AS DOUBLE) / b.n_sh) >= 0.5
)
SELECT da.source AS source_a, db.source AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs JOIN documents da ON pairs.id_a = da.doc_id
           JOIN documents db ON pairs.id_b = db.doc_id
GROUP BY 1, 2
"""


@_register(
    "near_dup_source_matrix",
    _SOURCE_MATRIX_ORACLE,
    doc="Cross-source contamination matrix: capped containment pairs "
    "(same semantics as shingle_containment — df ≤ 10% stop-shingle "
    "cap mirrored in the oracle) attributed back to their sources and "
    "counted per (source_a, source_b) — the report that names WHICH "
    "feeds mirror each other, the decision input for source-level "
    "dropping before pairwise dedup at full scale. The pair relation "
    "is tiny after the containment threshold, so the two attribution "
    "joins shuffle pair-cardinality rows against a projected (doc_id, "
    "source) relation; the matrix aggregate is source²-bounded.",
)
def near_dup_source_matrix(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import containment_pairs

    docs = load_table(spark, sf, "documents")
    pairs = containment_pairs(docs, n=3, threshold=0.5, max_doc_freq_frac=0.10)
    src = docs.select("doc_id", "source")
    return (
        pairs.select("id_a", "id_b")
        .join(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("source_a")), "id_a")
        .join(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("source_b")), "id_b")
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_TYPE_SHARE_ORACLE = """
WITH c AS (
  SELECT p_brand, p_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM part GROUP BY 1, 2
)
SELECT p_brand, p_type, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY p_brand) AS BIGINT)
         AS share_ppm
FROM c
"""


@_register(
    "part_type_share",
    _TYPE_SHARE_ORACLE,
    doc="Within-group composition share in exact integer ppm: each "
    "part type's share of its brand's catalog — the normalized-breakdown "
    "pattern (category mix, label distribution per source) done "
    "without a self-join: one hash aggregate to (brand, container) "
    "cardinality, then a brand-partitioned window SUM over that "
    "reduced relation supplies the denominator on the same exchange. "
    "Integer div; no floats.",
)
def part_type_share(spark: SparkSession, sf: str) -> DataFrame:
    part = load_table(spark, sf, "part")
    c = part.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("p_brand"))
    return c.select(
        "p_brand",
        "p_type",
        "n",
        (F.col("n") * 1000000).cast("long").alias("__num"),
        total.alias("__den"),
    ).select(
        "p_brand",
        "p_type",
        "n",
        F.expr("__num div __den").alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# round-5 session tranche: cross-snapshot incremental dedup
# ---------------------------------------------------------------------------

_INCR_ORACLE = """
WITH newd AS (
  SELECT doc_id, text, source FROM documents WHERE doc_id % 2 = 1
), old AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
), exact AS (
  SELECT DISTINCT n.doc_id FROM newd n
  JOIN old o ON sha256(n.text) = sha256(o.text)
), toks AS (
  SELECT doc_id, (doc_id % 2 = 1) AS is_new,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id, is_new,
         list_distinct(CASE WHEN len(w) >= 3
           THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ex AS (
  SELECT doc_id, is_new, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), cap AS (
  SELECT shingle FROM ex GROUP BY shingle
  HAVING COUNT(*) <= (SELECT COUNT(*) FROM documents) * 0.10
), exc AS (
  SELECT ex.* FROM ex JOIN cap USING (shingle)
), pairs AS (
  SELECT a.doc_id AS id_new
  FROM exc a JOIN exc b
    ON a.shingle = b.shingle AND a.is_new AND NOT b.is_new
   AND a.n_sh * 0.5 <= b.n_sh AND b.n_sh * 0.5 <= a.n_sh
  GROUP BY a.doc_id, b.doc_id, a.n_sh, b.n_sh
  HAVING CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)) >= 0.5
), near AS (
  SELECT DISTINCT id_new AS doc_id FROM pairs
)
SELECT n.source,
       CAST(COUNT(*) AS BIGINT) AS n_new,
       CAST(COUNT(exact.doc_id) AS BIGINT) AS n_exact_dup,
       CAST(COUNT(CASE WHEN exact.doc_id IS NULL AND near.doc_id IS NOT NULL
                       THEN 1 END) AS BIGINT) AS n_near_dup,
       CAST(COUNT(CASE WHEN exact.doc_id IS NULL AND near.doc_id IS NULL
                       THEN 1 END) AS BIGINT) AS n_kept
FROM newd n
LEFT JOIN exact ON n.doc_id = exact.doc_id
LEFT JOIN near ON n.doc_id = near.doc_id
GROUP BY n.source
"""


@_register(
    "dedup_incremental",
    _INCR_ORACLE,
    doc="Cross-snapshot ingest dedup report: split the corpus into an "
    "existing snapshot (even doc_id) and a new crawl batch (odd), then "
    "classify every new document as exact-dup (32-byte digest matches a "
    "snapshot digest — only digests cross that shuffle), near-dup "
    "(word-3-gram Jaccard >= 0.5 against ANY snapshot doc via "
    "operators/dedup.incremental_near_dups: one tagged shingle scan "
    "over both sides, shared doc-frequency cap at 10%, size-ratio "
    "prune, new-vs-old equi-join only — the snapshot is never "
    "self-paired), or kept; rolled up per source. This is the shape a "
    "recurring crawl runs every ingest: the increment pays "
    "|new|x|snapshot| bucketed work, not |corpus|^2.",
)
def dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators import dedup as D

    docs = load_table(spark, sf, "documents")
    new = docs.where(F.col("doc_id") % 2 == 1)
    old = docs.where(F.col("doc_id") % 2 == 0)
    old_sha = old.select(D.content_digest(F.col("text")).alias("sha")).distinct()
    exact = (
        new.select("doc_id", D.content_digest(F.col("text")).alias("sha"))
        .join(old_sha, "sha", "left_semi")
        .select("doc_id")
        .withColumn("__exact", F.lit(1))
    )
    # single scan feeds both join sides: the parity flag is a column of
    # one tagged relation (the two-DataFrame wrapper would union two
    # scans of the same parquet, which Catalyst does not fuse)
    tagged = docs.select(
        "doc_id", "text", (F.col("doc_id") % 2 == 1).alias("__is_new")
    )
    near = (
        D.incremental_near_dups_tagged(
            tagged, n=3, threshold=0.5, max_doc_freq_frac=0.10
        )
        .select(F.col("id_new").alias("doc_id"))
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    j = (
        new.select("doc_id", "source")
        .join(exact, "doc_id", "left")
        .join(near, "doc_id", "left")
    )
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.count("__exact").alias("n_exact_dup"),
        F.count(
            F.when(F.col("__exact").isNull() & F.col("__near").isNotNull(), 1)
        ).alias("n_near_dup"),
        F.count(
            F.when(F.col("__exact").isNull() & F.col("__near").isNull(), 1)
        ).alias("n_kept"),
    )


_CASCADE_ORACLE = """
SELECT CAST(ts AS DATE) AS day,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY 1
"""


@_register(
    "rollup_cascade",
    _CASCADE_ORACLE,
    doc="Hierarchical re-aggregation (the hypertable/materialized-rollup "
    "pattern): minute-grain partials roll to hour, hour to day — each "
    "level aggregates the PREVIOUS level's output, never the raw "
    "events, so at warehouse scale every coarser rollup costs rows "
    "proportional to the finer rollup's cardinality, not the fact "
    "table. Correctness hinges on keeping the measure in exact "
    "DECIMAL across levels (sum-of-sums == direct sum, associative); "
    "only the final day grain casts to double. The oracle computes "
    "the day grain DIRECTLY from raw events — the driver hash proves "
    "cascaded partials lose nothing.",
)
def rollup_cascade(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.functions.helpers import dec

    ev = load_table(spark, sf, "events")
    minute = ev.groupBy(F.date_trunc("minute", F.col("ts")).alias("m")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(dec(F.col("value"))).alias("sv")
    )
    hour = minute.groupBy(F.date_trunc("hour", F.col("m")).alias("h")).agg(
        F.sum("n").alias("n"), F.sum("sv").alias("sv")
    )
    return hour.groupBy(F.to_date("h").alias("day")).agg(
        F.sum("n").alias("n_events"),
        F.sum("sv").cast("double").alias("sum_value"),
    )


_SIMHASH_DET_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id AS id,
         list_distinct(CASE WHEN len(w) >= 2
           THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ne AS (
  SELECT id, shingles FROM sh WHERE len(shingles) > 0
), fp AS (
  SELECT id, array_to_string(list_transform(range(0, 64), i ->
    CASE WHEN list_sum(list_transform(shingles, x ->
      2 * (((strpos('0123456789abcdef', substr(md5(x), CAST(i // 4 AS INT) + 1, 1)) - 1)
            // CAST(2 ** (3 - i % 4) AS INT)) % 2) - 1)) > 0
    THEN '1' ELSE '0' END), '') AS f
  FROM ne
), keys AS (
  SELECT id, f, b, substr(f, CAST(b * 16 AS INT) + 1, 16) AS k
  FROM (SELECT id, f, unnest(range(0, 4)) AS b FROM fp)
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.f AS fa, b.f AS fb
  FROM keys a JOIN keys b ON a.b = b.b AND a.k = b.k AND a.id < b.id
)
SELECT id_a, id_b,
       CAST(len(list_filter(range(1, 65),
            i -> substr(fa, CAST(i AS INT), 1) <> substr(fb, CAST(i AS INT), 1)))
            AS BIGINT) AS hamming
FROM cand
WHERE len(list_filter(range(1, 65),
      i -> substr(fa, CAST(i AS INT), 1) <> substr(fb, CAST(i AS INT), 1))) <= 10
"""


@_register(
    "dedup_simhash_det",
    _SIMHASH_DET_ORACLE,
    doc="Deterministic SimHash near-dup pairs: md5-bit 64-bit fingerprint "
    "built by an IN-ROW fold over the word-2-gram shingle set (no "
    "explode, no shuffle for the signature pass), banded 4x16-bit LSH "
    "equi-join for candidates, exact Hamming verify. The md5 hash "
    "family makes every stage engine-reproducible — the hash-checked "
    "twin of the xxhash64 production `dedup_simhash`, same role "
    "`dedup_minhash_det` plays for MinHash. "
    "operators/dedup.simhash_det_pairs.",
)
def dedup_simhash_det(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators import dedup as D

    return D.simhash_det_pairs(
        load_table(spark, sf, "documents"), n=2, max_hamming=10, bands=4
    )


_AUDIO_ENERGY_ORACLE = """
WITH ex AS (
  SELECT doc_id, text, unnest(range(1, len(text) + 1)) AS i FROM documents
), v AS (
  SELECT doc_id, CAST((i - 1) // 256 AS INT) AS frame_idx,
         CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT) AS val
  FROM ex
)
SELECT doc_id, frame_idx, CAST(SUM(val * val) AS BIGINT) AS energy
FROM v GROUP BY doc_id, frame_idx
"""


@_register(
    "multimodal_audio_energy",
    _AUDIO_ENERGY_ORACLE,
    doc="N5 audio shape: opaque binary -> fixed 256-byte PCM windows -> "
    "exact integer sum-of-squares energy per window, numpy-vectorized "
    "inside Arrow batches (operators/multimodal.audio_frame_energy — "
    "the 1-to-many-scalars batch shape next to features' 1-to-1 and "
    "frame_sample's 1-to-many-payloads). Stub payload is the UTF-8 "
    "text bytes, so the oracle prices the identical windows from "
    "ascii codes; a real decoder swaps in behind the same schema.",
)
def multimodal_audio_energy(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.multimodal import (
        attach_binary,
        audio_frame_energy,
    )

    docs = fan_out(load_table(spark, sf, "documents"))
    return audio_frame_energy(attach_binary(docs), frame_bytes=256)


_KCORE_ORACLE = """
WITH e AS (
  SELECT DISTINCT l_partkey AS a, l_suppkey + 1000000000 AS b FROM lineitem
), ud AS (
  SELECT a, b FROM e UNION SELECT b, a FROM e
), k1 AS (
  SELECT a FROM ud GROUP BY a HAVING COUNT(*) >= 25
), e1 AS (
  SELECT ud.a, ud.b FROM ud JOIN k1 x ON ud.a = x.a JOIN k1 y ON ud.b = y.a
), k2 AS (
  SELECT a FROM e1 GROUP BY a HAVING COUNT(*) >= 25
), e2 AS (
  SELECT e1.a, e1.b FROM e1 JOIN k2 x ON e1.a = x.a JOIN k2 y ON e1.b = y.a
), k3 AS (
  SELECT a FROM e2 GROUP BY a HAVING COUNT(*) >= 25
), e3 AS (
  SELECT e2.a, e2.b FROM e2 JOIN k3 x ON e2.a = x.a JOIN k3 y ON e2.b = y.a
), k4 AS (
  SELECT a FROM e3 GROUP BY a HAVING COUNT(*) >= 25
), e4 AS (
  SELECT e3.a, e3.b FROM e3 JOIN k4 x ON e3.a = x.a JOIN k4 y ON e3.b = y.a
)
SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree FROM e4 GROUP BY a
"""


@_register(
    "graph_kcore",
    _KCORE_ORACLE,
    doc="25-core of the part-supplier co-purchase graph: iterative "
    "peeling (operators/graph.k_core) — per round one degree "
    "aggregate + two semi-join restrictions, both keyed on the node "
    "id so the exchange layout is reused; lineage checkpoint-"
    "truncated; the driver sees one scalar edge count per round "
    "(monotone, so an unchanged count IS the fixpoint). The density "
    "screen before community detection. Spark iterates to the TRUE "
    "fixpoint; the oracle unrolls four peels, which this graph "
    "converges inside (the differential itself proves it).",
)
def graph_kcore(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.graph import k_core

    li = load_table(spark, sf, "lineitem")
    e = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000000).alias("dst"),
    ).distinct()
    return k_core(e, k=25)


@_register(
    "ann_pq",
    None,
    doc="N3 scale path, third family: product-quantization ANN. "
    "Per-subspace deterministic quantized k-means codebooks "
    "(operators/similarity.pq_train, m=16 x k=16 = 64 bits/vector), "
    "map-side encode (no shuffle — the index stores m small ints per "
    "row), and asymmetric-distance top-k where the query ships an "
    "m x k integer lookup table and the scan touches CODES only, never "
    "vectors — the memory-bound ANN shape next to ann_lsh (bucket "
    "key) and ann_ivf (probe fraction). Rows-only by design like its "
    "siblings (approximate ranking has no SQL oracle); determinism "
    "and a recall floor are pinned in tests/test_ann_quality.py.",
)
def ann_pq(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.similarity import pq_topk, pq_train

    emb = load_table(spark, sf, "embeddings")
    books = pq_train(emb, m=16, k=16)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return pq_topk(emb, q, books, k=10)


@_register(
    "bpe_merges",
    None,
    doc="BPE vocabulary induction (Sennrich 2016): the 12 most frequent "
    "adjacent-symbol merges, applied greedily in order. The corpus is "
    "scanned ONCE into a (word, count) vocabulary relation; every "
    "round then costs one pair-count hash aggregate + deterministic "
    "argmax (count desc, pair asc) + an Arrow-batched left-to-right "
    "merge application — all bounded by DISTINCT words, not corpus "
    "size, with one row per round to the driver. Rows-only: the "
    "iterative greedy fixpoint is not SQL-expressible; the merge "
    "sequence is pinned against a hand-computed example and a "
    "double-run determinism check in tests/test_operators.py. "
    "operators/text.bpe_train.",
)
def bpe_merges(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import bpe_train

    return bpe_train(load_table(spark, sf, "documents"), n_merges=12)


# ---------------------------------------------------------------------------
# commit-log time travel (round 10): the read-side half of the isolation
# story commitlog.py guarantees — pinned-version reads and cross-version
# diffs through the SAME manifest mechanism the writers commit through.
# ---------------------------------------------------------------------------


def _timetravel_log(spark: SparkSession, sf: str):
    """Materialize a small commit-logged table with three versions carved
    deterministically out of ``documents``:

    - v0 ``init``: every doc as (doc_id, digest = md5(text));
    - v1 ``delete``: doc_id % 11 = 0 removed (a retention purge);
    - v2 ``merge``: doc_id % 7 = 0 survivors re-digested over
      text || ' v2' (a re-crawl), plus doc_id % 17 = 0 docs re-keyed
      to doc_id + 1000000 and digested over text || ' new' (fresh
      ingest, unmatched -> appended).

    Every version's content is a pure function of the input parquet, so
    the table is built once into a scratch root and reused — repeated
    spec runs read the same three manifests instead of re-writing the
    table — and the DuckDB oracle recomputes each snapshot from
    ``documents`` directly. Scratch size is O(|documents|) with 3 tiny
    commits — negligible next to the scan the oracle itself performs.
    """
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        docs = load_table(spark, sf, "documents")
        path = str(root / "docs_log")
        docs.select("doc_id", F.md5("text").alias("digest")).write.parquet(
            path
        )
        log = TableLog(path)
        log.init()
        log.delete_where(spark, "doc_id % 11 = 0")
        updates = (
            docs.where(
                (F.col("doc_id") % 7 == 0) & (F.col("doc_id") % 11 != 0)
            )
            .select(
                "doc_id",
                F.md5(F.concat(F.col("text"), F.lit(" v2"))).alias("digest"),
            )
        )
        inserts = docs.where(F.col("doc_id") % 17 == 0).select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.md5(F.concat(F.col("text"), F.lit(" new"))).alias("digest"),
        )
        log.merge_upsert(
            spark, updates.unionByName(inserts), key_cols=["doc_id"]
        )

    return TableLog(str(scratch("tt", sf, build) / "docs_log"))


_TIMETRAVEL_DIFF_ORACLE = """
WITH v0 AS (
  SELECT doc_id, md5(text) AS digest FROM documents
), v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN md5(text || ' v2')
              ELSE md5(text) END AS digest
  FROM documents WHERE doc_id % 11 <> 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, md5(text || ' new') AS digest
  FROM documents WHERE doc_id % 17 = 0
)
SELECT COALESCE(v0.doc_id, v2.doc_id) AS doc_id,
       CASE WHEN v0.doc_id IS NULL THEN 'added'
            WHEN v2.doc_id IS NULL THEN 'removed'
            ELSE 'changed' END AS change
FROM v0 FULL OUTER JOIN v2 ON v0.doc_id = v2.doc_id
WHERE v0.doc_id IS NULL OR v2.doc_id IS NULL OR v0.digest <> v2.digest
"""


@_register(
    "timetravel_snapshot_diff",
    _TIMETRAVEL_DIFF_ORACLE,
    doc="Time travel through the commit log as a QUERY face: build a "
    "commit-logged table (init -> retention delete -> re-crawl merge), "
    "then diff TableLog.read(version=0) against the latest manifest — "
    "added/removed/changed keys across a version pair, the audit a "
    "lakehouse runs before promoting a snapshot. Unlike the "
    "snapshot_diff spec (which carves both versions out of the scan), "
    "both sides here are pinned-manifest reads through the SAME "
    "mechanism writers commit through, so the diff exercises snapshot "
    "isolation end-to-end: a v0 reader is byte-stable while v1/v2 land "
    "(commitlog.py hard-link publish). Rows reduce to (key, 16-byte "
    "digest) before the full outer join; at 100 TB the scratch table "
    "is the real lake and the diff is one hash join on the key, "
    "partition-pruned to the manifests' file lists.",
)
def timetravel_snapshot_diff(spark: SparkSession, sf: str) -> DataFrame:
    log = _timetravel_log(spark, sf)
    old = log.read(spark, version=0).select(
        F.col("doc_id").alias("id0"), F.col("digest").alias("d0")
    )
    new = log.read(spark).select(
        F.col("doc_id").alias("id2"), F.col("digest").alias("d2")
    )
    j = old.join(new, old.id0 == new.id2, "full_outer")
    change = (
        F.when(F.col("id0").isNull(), "added")
        .when(F.col("id2").isNull(), "removed")
        .otherwise("changed")
    )
    return j.where(
        F.col("id0").isNull() | F.col("id2").isNull() | (F.col("d0") != F.col("d2"))
    ).select(F.coalesce("id0", "id2").alias("doc_id"), change.alias("change"))


_TIMETRAVEL_COUNTS_ORACLE = """
SELECT 0 AS version, COUNT(*) AS n_rows FROM documents
UNION ALL
SELECT 1 AS version, COUNT(*) AS n_rows FROM documents WHERE doc_id % 11 <> 0
UNION ALL
SELECT 2 AS version,
       (SELECT COUNT(*) FROM documents WHERE doc_id % 11 <> 0)
       + (SELECT COUNT(*) FROM documents WHERE doc_id % 17 = 0) AS n_rows
"""


@_register(
    "timetravel_version_counts",
    _TIMETRAVEL_COUNTS_ORACLE,
    doc="Version history of a commit-logged table: row count at EVERY "
    "manifest (init / delete / merge), each read as a pinned snapshot "
    "via TableLog.read(version=v) — 'describe history' for the lake "
    "table. Verifies the manifests compose: v1 = v0 minus the "
    "retention delete, v2 = v1 plus the unmatched inserts (matched "
    "updates replace in place, leaving the count unchanged). Each "
    "count is one metadata-pruned scan of that manifest's file list; "
    "the union is k tiny rows for k versions.",
)
def timetravel_version_counts(spark: SparkSession, sf: str) -> DataFrame:
    log = _timetravel_log(spark, sf)
    parts = [
        log.read(spark, version=v)
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .select(F.lit(v).cast("int").alias("version"), "n_rows")
        for v in log.versions()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select("version", "n_rows")


# ---------------------------------------------------------------------------
# folded from the round6 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

@_register(
    "bpe_fertility",
    None,
    doc="Tokenizer-fertility report under a TRAINED BPE vocabulary "
    "(rows-only: merge training is iterative, not SQL-expressible; the "
    "apply rule is hand-verified and property-tested in "
    "tests/test_operators.py): train 12 merges on the corpus "
    "(operators/text.bpe_train — one corpus scan total), encode every "
    "document with them (bpe_apply — narrow Arrow map, per-batch word "
    "memo), and report per-language words, tokens, and exact integer "
    "tokens-per-word ppm. The fertility gap across languages is the "
    "classic under-trained-tokenizer diagnostic.",
)
def bpe_fertility(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import bpe_apply, bpe_train

    docs = fan_out(load_table(spark, sf, "documents"))
    merges = [
        (r["left"], r["right"])
        for r in bpe_train(docs, n_merges=12).orderBy("rank").collect()
    ]
    stats = bpe_apply(docs, merges)
    j = docs.select(F.col("doc_id").alias("id"), "lang").join(stats, "id")
    return j.groupBy("lang").agg(
        F.sum("n_words").alias("n_words"),
        F.sum("n_tokens").alias("n_tokens"),
        F.expr("sum(n_tokens) * 1000000 div sum(n_words)").alias("fertility_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Structural graph similarity: supplier-pair part-set Jaccard
# ---------------------------------------------------------------------------


@_register(
    "graph_neighbor_jaccard",
    """
WITH e AS (
  SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem
), deg AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY s
), pr AS (
  SELECT a.s AS s_a, b.s AS s_b, CAST(COUNT(*) AS BIGINT) AS inter
  FROM e a JOIN e b ON a.p = b.p AND a.s < b.s
  GROUP BY a.s, b.s
), j AS (
  SELECT pr.inter,
         CAST(pr.inter * 1000000 // (da.d + db.d - pr.inter) AS BIGINT)
           AS jac_ppm
  FROM pr JOIN deg da ON pr.s_a = da.s JOIN deg db ON pr.s_b = db.s
)
SELECT CAST(LEAST(9, jac_ppm // 100000) AS INTEGER) AS jac_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(inter) AS BIGINT) AS shared_parts,
       CAST(MAX(jac_ppm) AS BIGINT) AS max_jac_ppm
FROM j GROUP BY 1
""",
    doc="Structural similarity on the part-supplier bipartite graph: for "
    "every supplier pair sharing >= 1 part, the exact Jaccard of their "
    "part sets (inter * 1e6 div union, pure integers), histogrammed by "
    "decile — the neighborhood-overlap statistic behind co-sourcing / "
    "substitutability analysis and link prediction. Pairs are generated "
    "through the shared part (one self-equi-join on p, never supplier "
    "x supplier), so the blowup is bounded by per-part supplier fan-out "
    "— on skewed real graphs cap that fan-out df-style exactly like the "
    "shingle stop-lists; degrees ride in on two co-partitioned joins.",
)
def graph_neighbor_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    li = fan_out(load_table(spark, sf, "lineitem"))
    e = li.select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("d"))
    a = e.select("p", F.col("s").alias("s_a"))
    b = e.select(F.col("p").alias("pb"), F.col("s").alias("s_b"))
    pr = (
        a.join(b, (F.col("p") == F.col("pb")) & (F.col("s_a") < F.col("s_b")))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        pr.join(deg.select(F.col("s").alias("s_a"), F.col("d").alias("da")), "s_a")
        .join(deg.select(F.col("s").alias("s_b"), F.col("d").alias("db")), "s_b")
        .select(
            "inter", F.expr("inter * 1000000 div (da + db - inter)").alias("jac_ppm")
        )
    )
    return j.groupBy(
        F.expr("least(9, jac_ppm div 100000)").cast("int").alias("jac_decile")
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("inter").cast("bigint").alias("shared_parts"),
        F.max("jac_ppm").cast("bigint").alias("max_jac_ppm"),
    )


# ---------------------------------------------------------------------------
# Functional-dependency profiling
# ---------------------------------------------------------------------------

_FD_ORACLE_TMPL = """
  SELECT '{name}' AS fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violating,
         CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS viol_ppm,
         CAST(MAX(nd) AS BIGINT) AS max_fanout
  FROM (SELECT {lhs}, COUNT(DISTINCT {rhs}) AS nd FROM {table} GROUP BY {lhs})
"""

_FD_CANDIDATES = [
    ("part.p_brand->p_type", "part", "p_brand", "p_type"),
    ("part.p_type->p_brand", "part", "p_type", "p_brand"),
    ("documents.lang->source", "documents", "lang", "source"),
    ("events.user_id->event_type", "events", "user_id", "event_type"),
]


@_register(
    "fd_profile",
    " UNION ALL ".join(
        _FD_ORACLE_TMPL.format(name=n, table=t, lhs=l, rhs=r)
        for n, t, l, r in _FD_CANDIDATES
    ),
    doc="Functional-dependency discovery profile — the data-profiling "
    "primitive behind schema inference and key detection: for each "
    "candidate FD lhs->rhs, the number of lhs keys, how many keys "
    "VIOLATE the dependency (> 1 distinct rhs), the violation ppm and "
    "the worst fan-out. A dependency holds iff n_violating = 0; the "
    "ppm grades 'approximate FDs' (holds for 99% of keys) that exact "
    "checkers miss. Per candidate: one (lhs)-keyed distinct-count "
    "aggregate folded to a single row — candidates union to a "
    "4-row report, each independently parallel.",
)
def fd_profile(spark: SparkSession, sf: str) -> DataFrame:
    def prof(name: str, table: str, lhs: str, rhs: str) -> DataFrame:
        df = fan_out(load_table(spark, sf, table))
        g = df.groupBy(lhs).agg(F.count_distinct(rhs).alias("nd"))
        return g.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.expr(
                "sum(case when nd > 1 then 1 else 0 end) * 1000000 div count(1)"
            ).alias("viol_ppm"),
            F.max("nd").cast("bigint").alias("max_fanout"),
        ).select(
            F.lit(name).alias("fd"),
            "n_keys",
            "n_violating",
            "viol_ppm",
            "max_fanout",
        )

    out = None
    for n, t, l, r in _FD_CANDIDATES:
        part = prof(n, t, l, r)
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# SCD2 point-in-time lookup (ASOF JOIN oracle)
# ---------------------------------------------------------------------------


@_register(
    "scd2_asof_lookup",
    """
WITH p0 AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC)
           AS rn
  FROM events WHERE event_type = 'purchase'
), p AS (
  SELECT user_id, ts,
         CAST(FLOOR(value * 1000) AS BIGINT) AS v_milli,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
           AS version
  FROM p0 WHERE rn = 1
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.event_id, c.user_id, c.ts,
       p.version AS last_purchase_version,
       p.v_milli AS last_purchase_v_milli
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
""",
    doc="Point-in-time SCD2 lookup: every click event annotated with the "
    "purchase-history VERSION in effect at its timestamp (inclusive "
    "<=; NULL before the first purchase) — the effective-dated "
    "dimension probe every feature pipeline runs, here verified "
    "against DuckDB's native ASOF LEFT JOIN (a new oracle pattern: "
    "the engine's asof operator vs a reference implementation of asof "
    "semantics, not a SQL re-derivation). Spark side is "
    "operators/asof.asof_join — the union+window formulation, one "
    "user_id shuffle, no per-row probes; equal-ts purchase duplicates "
    "are deduplicated to max event_id first so both engines pick the "
    "same row.",
)
def scd2_asof_lookup(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    pur = ev.where(F.col("event_type") == "purchase")
    w_ts = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    p1 = pur.withColumn("rn", F.row_number().over(w_ts)).where(F.col("rn") == 1)
    wv = Window.partitionBy("user_id").orderBy("ts")
    p = p1.select(
        "user_id",
        "ts",
        F.floor(F.col("value") * 1000).cast("bigint").alias("v_milli"),
        F.row_number().over(wv).cast("bigint").alias("version"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        clicks, p, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["version", "v_milli"],
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_version").alias("last_purchase_version"),
        F.col("asof_v_milli").alias("last_purchase_v_milli"),
    )


# ---------------------------------------------------------------------------
# folded from the round9c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Tolerance-bounded as-of lookup
# ---------------------------------------------------------------------------


@_register(
    "scd2_asof_tolerance",
    """
WITH p0 AS (
  SELECT user_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC)
           AS rn
  FROM events WHERE event_type = 'purchase'
), p AS (
  SELECT user_id, ts,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT)
           AS version
  FROM p0 WHERE rn = 1
), c AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
), j AS (
  SELECT c.event_id, c.user_id, c.ts, p.version, p.ts AS pts
  FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts >= p.ts
)
SELECT event_id, user_id, ts,
       CASE WHEN pts IS NOT NULL
                 AND epoch_us(ts) - epoch_us(pts) <= 604800000000
            THEN version END AS fresh_version
FROM j
""",
    doc="Tolerance-bounded point-in-time lookup: view events annotated "
    "with the purchase-history version in effect at their timestamp "
    "ONLY if it is at most 7 days stale — the max-staleness asof "
    "variant every feature store needs (a quote from last month is "
    "not a usable feature). operators/asof.asof_join carries the "
    "matched right timestamp out, and the staleness guard nulls the "
    "value past tolerance while KEEPING the row (left semantics); "
    "oracle = DuckDB native ASOF LEFT JOIN + an epoch_us interval "
    "guard. Same one-shuffle union+window plan as scd2_asof_lookup.",
)
def scd2_asof_tolerance(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    pur = ev.where(F.col("event_type") == "purchase")
    w_ts = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    p1 = pur.withColumn("rn", F.row_number().over(w_ts)).where(F.col("rn") == 1)
    wv = Window.partitionBy("user_id").orderBy("ts")
    p = p1.select(
        "user_id",
        "ts",
        F.row_number().over(wv).cast("bigint").alias("version"),
        F.col("ts").alias("pts"),
    )
    views = ev.where(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    out = asof_join(
        views, p, on="user_id", left_ts="ts", right_ts="ts",
        value_cols=["version", "pts"],
    )
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("asof_pts").cast("timestamp")
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.when(
            F.col("asof_pts").isNotNull() & (gap_us <= 604800000000),
            F.col("asof_version"),
        ).alias("fresh_version"),
    )


# ---------------------------------------------------------------------------
# folded from the round10b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# integer HITS over the shipment graph
# ---------------------------------------------------------------------------


def _hits_oracle(iterations: int = 2) -> str:
    head = """
WITH e AS (
  SELECT DISTINCT l_partkey AS src, l_suppkey + 1000000000 AS dst FROM lineitem
), n AS (
  SELECT src AS node FROM e UNION SELECT dst FROM e
), h0 AS (
  SELECT node, CAST(1000000 AS BIGINT) AS hub FROM n
)"""
    parts = [head]
    prev_h = "h0"
    for i in range(1, iterations + 1):
        parts.append(f""", ar{i} AS (
  SELECT e.dst AS node, CAST(SUM(hub) AS BIGINT) AS raw
  FROM e JOIN {prev_h} p ON p.node = e.src GROUP BY e.dst
), arf{i} AS (
  SELECT n.node, COALESCE(ar{i}.raw, 0) AS raw FROM n LEFT JOIN ar{i} USING (node)
), ms_a{i} AS (
  SELECT GREATEST(length(bin(MAX(raw))) - 21, 0) AS s FROM arf{i}
), a{i} AS (
  SELECT node, CAST(raw >> (SELECT s FROM ms_a{i}) AS BIGINT) AS auth FROM arf{i}
), hr{i} AS (
  SELECT e.src AS node, CAST(SUM(auth) AS BIGINT) AS raw
  FROM e JOIN a{i} ON a{i}.node = e.dst GROUP BY e.src
), hrf{i} AS (
  SELECT n.node, COALESCE(hr{i}.raw, 0) AS raw FROM n LEFT JOIN hr{i} USING (node)
), ms_h{i} AS (
  SELECT GREATEST(length(bin(MAX(raw))) - 21, 0) AS s FROM hrf{i}
), h{i} AS (
  SELECT node, CAST(raw >> (SELECT s FROM ms_h{i}) AS BIGINT) AS hub FROM hrf{i}
)""")
        prev_h = f"h{i}"
    parts.append(f"""
SELECT h{iterations}.node, h{iterations}.hub, a{iterations}.auth
FROM h{iterations} JOIN a{iterations} ON h{iterations}.node = a{iterations}.node
""")
    return "".join(parts)


@_register(
    "hits_hubs_authorities",
    _hits_oracle(2),
    doc="Fixed-2-iteration HITS over the part->supplier shipment graph "
    "(operators/graph.hits_int) — the mutual-reinforcement face of "
    "link analysis next to pagerank_links' damped propagation: parts "
    "shipped by authoritative suppliers are good hubs and vice versa. "
    "Floating HITS L2-renormalizes (order-dependent, never "
    "hash-stable); here normalization is block-floating-point — shift "
    "right by max(bitlength(max)-21, 0), pure integer, shared "
    "bit-for-bit by both engines, overflow-free at any graph size "
    "where a multiply-then-divide rescale wraps at ~1e7 nodes. Two "
    "O(|E|) join+aggregate pairs per iteration; the max rides a "
    "broadcast scalar.",
)
def hits_hubs_authorities(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.graph import hits_int

    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000000).alias("dst"),
    )
    return hits_int(edges, iterations=2)


_TIMETRAVEL_CDF_ORACLE = """
WITH d AS (SELECT doc_id, text FROM documents)
SELECT doc_id, md5(text) AS digest,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _change_count
FROM d WHERE doc_id % 11 = 0
UNION ALL
SELECT doc_id, md5(text), 'update_preimage', CAST(1 AS BIGINT)
FROM d WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
UNION ALL
SELECT doc_id, md5(text || ' v2'), 'update_postimage', CAST(1 AS BIGINT)
FROM d WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
UNION ALL
SELECT doc_id + 1000000, md5(text || ' new'), 'insert', CAST(1 AS BIGINT)
FROM d WHERE doc_id % 17 = 0
"""


@_register(
    "timetravel_changes",
    _TIMETRAVEL_CDF_ORACLE,
    doc="Change data feed as a QUERY face: TableLog.changes(v0, v2, "
    "key_cols=[doc_id]) over the same three-version commit-logged "
    "table the other timetravel faces build — the retention purge "
    "surfaces as deletes, the re-crawl as update_preimage/"
    "update_postimage pairs carrying old and new digests, the fresh "
    "ingest as inserts, and every row merely REWRITTEN alongside them "
    "(COW neighbors in affected files) cancels. The oracle recomputes "
    "the expected change set straight from documents, so the whole "
    "manifest-delta pipeline — only files entering/leaving the "
    "manifest are read; shared files never open — hash-verifies end "
    "to end. At 100 TB this is the incremental-consumer contract: "
    "CDF cost rides |changed data|, never |table|.",
)
def timetravel_changes(spark: SparkSession, sf: str) -> DataFrame:
    log = _timetravel_log(spark, sf)
    return log.changes(spark, 0, 2, key_cols=["doc_id"])


def _evolution_log(spark: SparkSession, sf: str):
    """Materialize a small commit-logged table that LIVES THROUGH a
    partition evolution, carved deterministically out of ``documents``:

    - v0 ``init``: every doc as (doc_id, bucket = doc_id % 4,
      digest = md5(text)), FLAT layout;
    - v1 ``set-partitioning(['bucket'])``: metadata-only evolution —
      zero data bytes move;
    - v2 ``append``: docs with doc_id % 3 = 0 re-keyed to
      doc_id + 1000000 and digested over text || ' evo', staged into
      the NEW hive layout (bucket= dirs) — the manifest now mixes
      flat and hive files;
    - v3 ``delete``: doc_id % 5 = 0 purged — the COW rewrite spans
      BOTH layouts (1000000 ≡ 0 mod 4 and mod 5, so old and new keys
      share bucket and purge fate with their source doc)."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        docs = load_table(spark, sf, "documents")
        path = str(root / "docs_log")
        docs.select(
            "doc_id",
            (F.col("doc_id") % 4).cast("int").alias("bucket"),
            F.md5("text").alias("digest"),
        ).write.parquet(path)
        log = TableLog(path)
        log.init()
        log.set_partitioning(spark, ["bucket"])
        log.append(
            spark,
            docs.where(F.col("doc_id") % 3 == 0).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                (F.col("doc_id") % 4).cast("int").alias("bucket"),
                F.md5(F.concat(F.col("text"), F.lit(" evo"))).alias("digest"),
            ),
        )
        log.delete_where(spark, "doc_id % 5 = 0")

    return TableLog(str(scratch("pe", sf, build) / "docs_log"))


_PARTITION_EVOLUTION_ORACLE = """
WITH base AS (
  SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS bucket,
         md5(text) AS digest
  FROM documents
), evolved AS (
  SELECT doc_id + 1000000 AS doc_id,
         CAST(doc_id % 4 AS INTEGER) AS bucket,
         md5(text || ' evo') AS digest
  FROM documents WHERE doc_id % 3 = 0
), allr AS (
  SELECT * FROM base UNION ALL SELECT * FROM evolved
)
SELECT doc_id, bucket, digest FROM allr WHERE doc_id % 5 <> 0
"""


@_register(
    "timetravel_partition_evolution",
    _PARTITION_EVOLUTION_ORACLE,
    doc="Partition evolution as a QUERY face: the final snapshot of a "
    "commit-logged table that evolved flat→hive mid-history "
    "(set_partitioning is a metadata-only commit; the later append "
    "stages into bucket= dirs while the original flat files stay "
    "byte-identical, and the delete's COW rewrite spans both "
    "layouts). The read composes the MIXED manifest by grouping "
    "files on their path-declared layout — hive groups recover the "
    "partition column from directories, flat groups carry it in "
    "data — and the oracle recomputes the logical rows straight "
    "from documents, so layout composition hash-verifies end to "
    "end. At 100 TB this is Iceberg-style partition evolution: "
    "re-layout without rewriting history, migration deferred to "
    "compaction.",
)
def timetravel_partition_evolution(
    spark: SparkSession, sf: str
) -> DataFrame:
    log = _evolution_log(spark, sf)
    return log.read(spark).select("doc_id", "bucket", "digest")


_EVOLUTION_CDF_ORACLE = """
WITH d AS (SELECT doc_id, text FROM documents)
SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS bucket, md5(text) AS digest,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _change_count
FROM d WHERE doc_id % 5 = 0
UNION ALL
SELECT doc_id + 1000000, CAST(doc_id % 4 AS INTEGER),
       md5(text || ' evo'), 'insert', CAST(1 AS BIGINT)
FROM d WHERE doc_id % 3 = 0 AND doc_id % 5 <> 0
"""


@_register(
    "timetravel_evolution_cdf",
    _EVOLUTION_CDF_ORACLE,
    doc="Change data feed ACROSS a partition-evolution boundary "
    "(VERDICT r12 next-round #4): TableLog.changes(v0, v3, "
    "key_cols=[doc_id]) over the same evolved table as "
    "timetravel_partition_evolution — the span straddles the "
    "metadata-only set_partitioning commit, a hive-layout append, and "
    "a COW delete whose rewrite crosses BOTH layouts. The from-side "
    "files are all flat, the to-side mixes flat and hive, so the diff "
    "must align rows across layout groups (hive files recover the "
    "bucket column from directories); the keyed net diff shows the "
    "purge as deletes and the surviving evolved rows as inserts, and "
    "every row merely REWRITTEN by the cross-layout COW cancels — no "
    "update pair leaks from the rewrite. The oracle recomputes the "
    "expected change set straight from documents. At 100 TB this is "
    "the guarantee that re-layout does not break incremental "
    "consumers: a CDC reader tailing the table across an evolution "
    "sees logical changes only, never the migration.",
)
def timetravel_evolution_cdf(spark: SparkSession, sf: str) -> DataFrame:
    log = _evolution_log(spark, sf)
    return log.changes(spark, 0, 3, key_cols=["doc_id"])


def _catalog_tx_scratch(spark: SparkSession, sf: str) -> str:
    """Materialize a CATALOG-transacted pair of commit-logged tables
    once per (tmpdir, sf), deterministically, exercising the whole
    multi-table protocol so the face hash-verifies it end to end:

    - facts = orders → (o_orderkey, o_custkey, total_cents BIGINT),
      dim = customer → (c_custkey, c_mktsegment), view = the
      MATERIALIZED facts ⋈ dim; all three TableLog'd, catalog v0 pins
      them;
    - ONE transaction commits a facts purge (o_orderkey % 7 = 0), a
      dim segment rewrite (c_custkey % 4 = 0 → 'REWRITTEN'), AND the
      view re-materialized from the transaction's own reads —
      sources and view move atomically;
    - a SECOND transaction table-commits a facts purge of every even
      order and a matching view overwrite, then 'crashes' (no catalog
      commit, no intent) — neither half may reach a catalog reader;
    - reconcile() rolls the debris back AS A UNIT and re-pins.

    Two faces read through the final catalog snapshot against ONE
    oracle (the committed effects recomputed from orders/customer):
    ``catalog_txn_snapshot`` joins facts ⋈ dim, ``catalog_view_atomic``
    reads the materialized view — so view-vs-source divergence, debris
    leaking, or a rollback losing data is a hash mismatch, not just a
    failing unit test. Catalog table paths are parent-relative, so the
    whole tree moves as one when its scratch root is published."""
    from cve_manager_spark.catalogtx import CatalogLog
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        tree = root / "tree"
        orders = load_table(spark, sf, "orders")
        cust = load_table(spark, sf, "customer")
        facts_df = orders.select(
            "o_orderkey",
            "o_custkey",
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "total_cents"
            ),
        )
        dim_df = cust.select("c_custkey", "c_mktsegment")
        facts_df.write.parquet(str(tree / "facts"))
        dim_df.write.parquet(str(tree / "dim"))
        facts_df.join(
            dim_df, F.col("o_custkey") == F.col("c_custkey")
        ).write.parquet(str(tree / "view"))
        flog, dlog = TableLog(str(tree / "facts")), TableLog(str(tree / "dim"))
        vlog = TableLog(str(tree / "view"))
        flog.init()
        dlog.init()
        vlog.init()
        cat = CatalogLog(str(tree / "catalog"))
        cat.init({"facts": flog, "dim": dlog, "view": vlog})

        txn = cat.begin()
        txn.table("facts").delete_where(spark, "o_orderkey % 7 = 0")
        txn.table("dim").merge_upsert(
            spark,
            txn.table("dim").read(spark)
            .where("c_custkey % 4 = 0")
            .withColumn("c_mktsegment", F.lit("REWRITTEN")),
            ["c_custkey"],
        )
        txn.table("view").overwrite(
            spark,
            txn.table("facts").read(spark).join(
                txn.table("dim").read(spark),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
        )
        cat.commit(txn)

        crashed = cat.begin()
        crashed.table("facts").delete_where(spark, "o_orderkey % 2 = 0")
        crashed.table("view").overwrite(
            spark,
            crashed.table("facts").read(spark).join(
                crashed.table("dim").read(spark),
                F.col("o_custkey") == F.col("c_custkey"),
            ),
        )
        # crash: no commit(), no intent — two-table debris, one unit;
        # min_age=0 is the documented no-writer-in-flight opt-in (this
        # builder is single-threaded, the 'crashed' txn is provably dead)
        cat.reconcile(min_age_seconds=0)

    return str(scratch("cattx", sf, build) / "tree" / "catalog")


_CATALOG_TXN_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
       CASE WHEN c.c_custkey % 4 = 0 THEN 'REWRITTEN'
            ELSE c.c_mktsegment END AS c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderkey % 7 <> 0
"""


@_register(
    "catalog_txn_snapshot",
    _CATALOG_TXN_ORACLE,
    doc="Multi-table transactions as a QUERY face (VERDICT r12 "
    "next-round #3): a consistent read_all() through the catalog log "
    "after one COMMITTED cross-table transaction (facts purge + dim "
    "rewrite, atomic), one CRASHED transaction (facts half-purge "
    "table-committed but never catalog-committed), and reconcile(). "
    "The oracle recomputes from orders/customer with only the "
    "committed effects, so catalog isolation hash-verifies: debris "
    "leaking into a reader, or the reconcile rollback losing rows, is "
    "a value mismatch. At 100 TB the catalog is the Nessie-style "
    "answer to the facts+dim+view atomicity gap single-table logs "
    "share — commit cost is one O(#tables) JSON hard-link, staging "
    "stays fully parallel.",
)
def catalog_txn_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_tx_scratch(spark, sf))
    snap = cat.read_all(spark)
    return snap["facts"].join(
        snap["dim"],
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_custkey", "total_cents", "c_mktsegment")


@_register(
    "catalog_view_atomic",
    _CATALOG_TXN_ORACLE,
    doc="The catalog's motivating scenario as its own face: a "
    "MATERIALIZED VIEW registered as a third catalog table and "
    "re-materialized IN THE SAME transaction as the source writes it "
    "reflects — then a crashed facts+view transaction rolled back as "
    "a unit by reconcile(). The face reads the VIEW through the final "
    "catalog snapshot against the SAME oracle as catalog_txn_snapshot "
    "(facts ⋈ dim with only the committed effects), so any atomicity "
    "break — the view lagging its sources, half a crashed transaction "
    "leaking, rollback losing rows — is a hash mismatch between the "
    "view and the recompute. At 100 TB this is the materialized-view "
    "refresh pattern: staging (the join) runs fully parallel, and "
    "visibility is one O(#tables) catalog hard-link.",
)
def catalog_view_atomic(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_tx_scratch(spark, sf))
    return cat.read(spark, "view").select(
        "o_orderkey", "o_custkey", "total_cents", "c_mktsegment"
    )


def _catalog_adddrop_scratch(spark: SparkSession, sf: str) -> str:
    """Materialize the catalog TABLE-LIFECYCLE story once per
    (tmpdir, sf), deterministically, so ``catalog_add_drop_table``
    hash-verifies it end to end:

    - facts = supplier → (s_suppkey, s_nationkey, bal_cents BIGINT),
      commit-logged; catalog v0 pins facts ONLY;
    - ``add_table`` registers dims = nation → (n_nationkey, n_name)
      as a catalog commit — no rebuild, history intact;
    - ONE transaction then moves the added table atomically with the
      original: facts purge (s_suppkey % 7 = 0) + dims rewrite
      (n_nationkey % 5 = 0 → 'REWRITTEN');
    - tag ``with-dims`` names that snapshot, ``drop_table`` removes
      dims from the head, and a keep=1 catalog vacuum ages every
      untagged pre-drop manifest out — the tag's floor is the only
      thing keeping the dropped table's version alive.

    The face reads facts through the HEAD and dims through the TAG
    and joins them, so a lifecycle break anywhere — the added table
    missing the transaction, the drop deleting data, vacuum dropping
    the tag-pinned version, the tag resolving the wrong pins — is a
    hash mismatch against an oracle that recomputes the committed
    effects straight from supplier/nation."""
    from cve_manager_spark.catalogtx import CatalogLog
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        tree = root / "tree"
        supp = load_table(spark, sf, "supplier")
        nat = load_table(spark, sf, "nation")
        supp.select(
            "s_suppkey",
            "s_nationkey",
            F.expr("CAST(ROUND(s_acctbal * 100) AS BIGINT)").alias(
                "bal_cents"
            ),
        ).write.parquet(str(tree / "facts"))
        nat.select("n_nationkey", "n_name").write.parquet(str(tree / "dims"))
        flog = TableLog(str(tree / "facts"))
        flog.init()
        cat = CatalogLog(str(tree / "catalog"))
        cat.init({"facts": flog})

        dlog = TableLog(str(tree / "dims"))
        dlog.init()
        cat.add_table("dims", dlog)

        txn = cat.begin()
        txn.table("facts").delete_where(spark, "s_suppkey % 7 = 0")
        txn.table("dims").merge_upsert(
            spark,
            txn.table("dims").read(spark)
            .where("n_nationkey % 5 = 0")
            .withColumn("n_name", F.lit("REWRITTEN")),
            ["n_nationkey"],
        )
        cat.commit(txn)

        cat.tag("with-dims")
        cat.drop_table("dims")
        cat.vacuum(keep_versions=1, min_age_seconds=0)

    return str(scratch("catad", sf, build) / "tree" / "catalog")


_CATALOG_ADDDROP_ORACLE = """
SELECT s.s_suppkey, s.s_nationkey,
       CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS bal_cents,
       CASE WHEN n.n_nationkey % 5 = 0 THEN 'REWRITTEN'
            ELSE n.n_name END AS n_name
FROM supplier s JOIN nation n ON s.s_nationkey = n.n_nationkey
WHERE s.s_suppkey % 7 <> 0
"""


@_register(
    "catalog_add_drop_table",
    _CATALOG_ADDDROP_ORACLE,
    doc="Catalog table LIFECYCLE as a query face (VERDICT r13 "
    "next-round #2): a table registered AFTER catalog init "
    "(add_table is a catalog commit — history and tags keep) moves "
    "atomically with an original table in the very next transaction, "
    "is tagged, DROPPED from the head, and survives a keep=1 catalog "
    "vacuum only through the tag's retention floor. The face joins "
    "facts read at HEAD with the dropped table read through the TAG; "
    "the oracle recomputes the committed effects from "
    "supplier/nation, so a break anywhere in the "
    "add→transact→tag→drop→vacuum chain is a hash mismatch. At "
    "100 TB this is schema-registry-free table lifecycle: "
    "registration cost is one O(#tables) JSON hard-link, and "
    "retention floors travel as VERSION numbers so vacuum cannot "
    "race a landing commit off a pinned manifest.",
)
def catalog_add_drop_table(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_adddrop_scratch(spark, sf))
    facts = cat.read(spark, "facts")
    dims = cat.read(spark, "dims", tag="with-dims")
    return facts.join(
        F.broadcast(dims),
        F.col("s_nationkey") == F.col("n_nationkey"),
    ).select("s_suppkey", "s_nationkey", "bal_cents", "n_name")


_CATALOG_CDF_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_cents,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _change_count
FROM orders WHERE o_orderkey % 7 = 0
"""


@_register(
    "catalog_cdf_atomic",
    _CATALOG_CDF_ORACLE,
    doc="Multi-table CDC through the catalog: CatalogLog.changes(v0, "
    "head) diffs every table between the pins two CATALOG snapshots "
    "published, so per-table feeds are mutually consistent by "
    "construction. Over the transaction scratch "
    "(_catalog_tx_scratch), the facts feed between catalog v0 and "
    "head must be EXACTLY the committed transaction's purge "
    "(o_orderkey % 7 = 0 as keyed deletes): the crashed second "
    "transaction's table commits were rolled back by reconcile() to "
    "pinned content, which CANCELS in the manifest-delta diff — so "
    "leaked crash debris, a lost rollback, or a rewritten-unchanged "
    "row surfacing as an update is a hash mismatch here, at row "
    "grain. At 100 TB this is the incremental-consumer face of "
    "multi-table atomicity: each feed reads only files entering/"
    "leaving between the pins, and a downstream join materializer "
    "can consume facts+dim deltas that provably belong to the same "
    "atomic history.",
)
def catalog_cdf_atomic(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_tx_scratch(spark, sf))
    feeds = cat.changes(spark, 0, key_cols={"facts": ["o_orderkey"]})
    return feeds["facts"].select(
        "o_orderkey", "o_custkey", "total_cents",
        "_change_type", "_change_count",
    )


def _catalog_branch_scratch(spark: SparkSession, sf: str) -> str:
    """Materialize the BRANCH→diverge→MERGE story once per (tmpdir,
    sf): facts/dim catalog, a zero-copy branch, a facts purge
    committed ON THE BRANCH while main independently rewrites dim,
    then a snapshot cherry-pick merge — so the final main catalog
    carries BOTH effects and reads against the same oracle as the
    single-catalog transaction face (the two protocols must agree on
    the committed state)."""
    from cve_manager_spark.catalogtx import CatalogLog
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        tree = root / "tree"
        orders = load_table(spark, sf, "orders")
        cust = load_table(spark, sf, "customer")
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)").alias(
                "total_cents"
            ),
        ).write.parquet(str(tree / "facts"))
        cust.select("c_custkey", "c_mktsegment").write.parquet(
            str(tree / "dim")
        )
        flog, dlog = TableLog(str(tree / "facts")), TableLog(str(tree / "dim"))
        flog.init()
        dlog.init()
        cat = CatalogLog(str(tree / "catalog"))
        cat.init({"facts": flog, "dim": dlog})

        br = cat.branch(str(tree / "feature"))
        btxn = br.begin()
        btxn.table("facts").delete_where(spark, "o_orderkey % 7 = 0")
        br.commit(btxn)
        # main moves a DIFFERENT table while the branch is out
        mtxn = cat.begin()
        mtxn.table("dim").merge_upsert(
            spark,
            mtxn.table("dim").read(spark)
            .where("c_custkey % 4 = 0")
            .withColumn("c_mktsegment", F.lit("REWRITTEN")),
            ["c_custkey"],
        )
        cat.commit(mtxn)
        cat.merge_branch(br)

    return str(scratch("catbr", sf, build) / "tree" / "catalog")


@_register(
    "catalog_branch_merge",
    _CATALOG_TXN_ORACLE,
    doc="Catalog BRANCHES, implemented per the round-14 design note "
    "(forked manifests via zero-copy clone, shared data files, every "
    "invariant per-branch verbatim): a facts purge committed ON A "
    "BRANCH while main independently rewrites dim, then merged back "
    "as a snapshot cherry-pick — one atomic catalog commit through "
    "the full intent/reconcile protocol, first-committer-wins across "
    "branches checked against CONTENT (a reconcile rollback's "
    "pin-move doesn't force a rebase). The face reads the merged "
    "main against the SAME oracle as catalog_txn_snapshot: the "
    "branch protocol and the single-catalog transaction protocol "
    "must agree bit-for-bit on the committed state, so isolation "
    "leaks, a lost merge, or a half-merged crash all hash-mismatch. "
    "At 100 TB: fork cost is O(manifests) hard links, merge cost is "
    "O(changed files) links + one manifest per changed table, and "
    "cross-branch file liveness is automatic (an inode survives "
    "until its last directory entry drops).",
)
def catalog_branch_merge(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_branch_scratch(spark, sf))
    snap = cat.read_all(spark)
    return snap["facts"].join(
        F.broadcast(snap["dim"]),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_custkey", "total_cents", "c_mktsegment")


def _two_stream_view_state(spark: SparkSession, sf: str) -> str:
    """Build the two-stream join view's state ONCE per (tmpdir, sf) by
    actually running both streaming sinks availableNow over chopped
    sources carved from orders/customer, then reuse it: facts = orders
    in 3 file-chops; dim CDC = every customer at upd_ts=1 plus a
    second update (c_acctbal + 1000) at upd_ts=2 for c_custkey % 3 = 0,
    in 2 chops delivered AFTER the facts drained — so the second
    update exercises the back-join/rewrite path, not just initial
    assembly. The drained view is a pure function of the inputs
    whatever the chopping (the convergence theorem the streaming tests
    prove); the oracle recomputes facts ⋈ newest-dim straight from the
    tables, so the whole two-stream IVM pipeline hash-verifies end to
    end."""
    from cve_manager_spark.streaming.sinks import (
        foreach_batch_ss_dim,
        foreach_batch_ss_facts,
    )

    def build(root):
        orders = load_table(spark, sf, "orders")
        cust = load_table(spark, sf, "customer")
        dim1 = cust.withColumn("upd_ts", F.lit(1).cast("long"))
        dim2 = (
            cust.where(F.col("c_custkey") % 3 == 0)
            .withColumn("c_acctbal", F.col("c_acctbal") + F.lit(1000.0))
            .withColumn("upd_ts", F.lit(2).cast("long"))
        )
        fsrc, dsrc, out = root / "facts", root / "dim", root / "view"
        orders.repartition(3).write.parquet(str(fsrc))
        dim1.repartition(2).write.parquet(str(dsrc))

        def run(side):
            if side == "facts":
                return foreach_batch_ss_facts(
                    spark.readStream.schema(orders.schema)
                    .option("maxFilesPerTrigger", 1).parquet(str(fsrc)),
                    str(out), "o_orderkey", "o_custkey", "c_custkey",
                    n_buckets=16,
                )
            return foreach_batch_ss_dim(
                spark.readStream.schema(dim1.schema)
                .option("maxFilesPerTrigger", 1).parquet(str(dsrc)),
                str(out), "o_custkey", "c_custkey", "upd_ts",
                n_buckets=16,
            )

        qf, qd = run("facts"), run("dim")
        qf.awaitTermination()
        qd.awaitTermination()
        # late dim updates land AFTER the facts: the rewrite path
        dim2.repartition(1).write.mode("append").parquet(str(dsrc))
        run("dim").awaitTermination()
        # the chopped sources are flat parquet dirs and build inputs,
        # not state: only the drained view is published
        for src in (fsrc, dsrc):
            for f in src.iterdir():
                f.unlink()
            src.rmdir()

    return str(scratch("ss", sf, build) / "view")


_TWO_STREAM_VIEW_ORACLE = """
SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice,
       o.o_orderdate, o.o_orderpriority,
       c.c_custkey, c.c_name, c.c_nationkey,
       CASE WHEN c.c_custkey % 3 = 0 THEN c.c_acctbal + 1000
            ELSE c.c_acctbal END AS c_acctbal,
       c.c_mktsegment,
       CAST(CASE WHEN c.c_custkey % 3 = 0 THEN 2 ELSE 1 END AS BIGINT)
         AS upd_ts
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@_register(
    "join_view_two_stream",
    _TWO_STREAM_VIEW_ORACLE,
    doc="The two-stream join view as a QUERY face: the drained state "
    "of fact-stream ⋈ dim-stream IVM (foreach_batch_ss_facts / "
    "foreach_batch_ss_dim run availableNow over chopped orders and a "
    "two-version customer CDC, the second dim update delivered after "
    "the facts so it exercises the back-join rewrite), read by "
    "per-bucket-newest composition. The oracle recomputes facts ⋈ "
    "newest-dim straight from the tables, so the convergence theorem "
    "— the view is a pure function of the inputs, independent of "
    "batch chopping and interleaving — hash-verifies end to end. At "
    "100 TB this is the double-CDC join: per batch cost |delta| + "
    "|touched buckets|, never |view|.",
)
def join_view_two_stream(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.streaming.sinks import read_stream_stream_join

    state = _two_stream_view_state(spark, sf)
    return read_stream_stream_join(spark, state)


_BFS_ORACLE = """
WITH RECURSIVE e AS (
  SELECT DISTINCT l_partkey AS u, l_suppkey + 1000000000 AS v FROM lineitem
  UNION
  SELECT DISTINCT l_suppkey + 1000000000 AS u, l_partkey AS v FROM lineitem
), bfs(node, hop) AS (
  SELECT DISTINCT l_partkey AS node, 0 AS hop
  FROM lineitem WHERE l_partkey % 97 = 0
  UNION
  SELECT e.v, bfs.hop + 1 FROM bfs JOIN e ON e.u = bfs.node
  WHERE bfs.hop < 3
)
SELECT node, CAST(MIN(hop) AS INTEGER) AS hop
FROM bfs GROUP BY node
"""


@_register(
    "graph_bfs_hops",
    _BFS_ORACLE,
    doc="Multi-source BFS over the part↔supplier shipment graph "
    "(suppliers namespaced by +1e9): shortest hop count from the seed "
    "set {parts with partkey % 97 = 0}, bounded at 3 hops — the "
    "blast-radius / lineage-reach query ('everything within k hops of "
    "these nodes'). Spark side is level-synchronous frontier "
    "expansion (operators/graph.py bfs_hops): each round joins ONLY "
    "the current frontier against the checkpointed edge relation and "
    "anti-joins the visited set, so cost per round is |frontier ⋈ E| "
    "hash joins and the round count is the hop bound, never the "
    "diameter. The oracle is the recursive-CTE twin (WITH RECURSIVE "
    "... MIN(hop)) — a NEW oracle class proving the iterative "
    "DataFrame loop equals the fixpoint semantics SQL engines define "
    "for recursion. Hop-0 = first reach = MIN(hop): set semantics "
    "per level make the result identical under any partitioning.",
)
def graph_bfs_hops(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.graph import bfs_hops

    li = load_table(spark, sf, "lineitem")
    edges = li.select(
        F.col("l_partkey").alias("src"),
        (F.col("l_suppkey") + 1000000000).alias("dst"),
    )
    seeds = li.where(F.col("l_partkey") % 97 == 0).select(
        F.col("l_partkey").alias("node")
    )
    return bfs_hops(edges, seeds, max_hops=3).select(
        "node", F.col("hop").cast("int").alias("hop")
    )


def _zonemap_log(spark: SparkSession, sf: str):
    """A range-CLUSTERED commit-logged table carved from documents
    (doc_id-sorted files, ~10 disjoint ranges) — the layout whose
    footer zone maps make range predicates prune to O(matching files)."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        path = str(root / "docs_log")
        (
            load_table(spark, sf, "documents")
            .select("doc_id", F.md5("text").alias("digest"))
            .repartitionByRange(10, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(path)
        )
        TableLog(path).init()

    return TableLog(str(scratch("zm", sf, build) / "docs_log"))


_ZONEMAP_ORACLE = """
SELECT doc_id, md5(text) AS digest
FROM documents
WHERE doc_id BETWEEN 100 AND 299
"""


@_register(
    "timetravel_pruned_scan",
    _ZONEMAP_ORACLE,
    doc="Zone-map data skipping as a QUERY face: a range predicate over "
    "a range-clustered commit-logged table goes through read_pruned — "
    "the manifest's files are pruned DRIVER-SIDE on cached parquet-"
    "footer [min,max] before Spark lists anything (the Delta/Iceberg "
    "file-stats discipline), the kept files still carry the filter "
    "(pruning is an optimization, never the predicate), and the "
    "builder ASSERTS files were actually pruned so the face fails if "
    "skipping ever regresses to a full scan. Oracle recomputes from "
    "raw documents. At 100 TB: clustered writes + footer stats bound "
    "a range query to O(matching files) with no Spark job spent "
    "deciding.",
)
def timetravel_pruned_scan(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.commitlog import read_pruned

    log = _zonemap_log(spark, sf)
    df, report = read_pruned(log, spark, "doc_id", lo=100, hi=299)
    assert report["files_pruned"] > 0, report  # skipping must engage
    return df.select("doc_id", "digest")


@_register(
    "timetravel_pruned_auto",
    _ZONEMAP_ORACLE,
    doc="r13 face of the same zone maps through the AUTOMATIC path: "
    "TableLog.read(where={doc_id: (lo, hi)}) consults the commit-time "
    "stats without the caller ever naming read_pruned — the builder "
    "asserts the scan's input files shrank below the manifest's file "
    "count, so the face fails if auto-consult regresses to a full "
    "scan. Same oracle as timetravel_pruned_scan (the two paths must "
    "agree with the raw recompute AND each other). At 100 TB this is "
    "the difference between an optimization users must know about and "
    "one the table applies for every bounded read.",
)
def timetravel_pruned_auto(spark: SparkSession, sf: str) -> DataFrame:
    log = _zonemap_log(spark, sf)
    df = log.read(spark, where={"doc_id": (100, 299)})
    _, files = log.snapshot()
    n_in = len(df.select("doc_id", "digest").inputFiles())
    assert 0 < n_in < len(files), (n_in, len(files))
    return df.select("doc_id", "digest")


def _cdf_pruned_log(spark: SparkSession, sf: str):
    """A commit-logged table whose HISTORY is range-clustered, so a
    bounded change feed can prove zone-map pruning: v0 = documents
    (doc_id, digest) clustered into ~10 doc_id ranges; v1 appends an
    'evo' batch at doc_id+1e6 (4 clustered files); v2 appends a
    'late' batch at doc_id+2e6 (4 clustered files); v3 COW-deletes
    every base doc_id % 5 = 0 (rewrites base-range files only). Every
    commit records per-file [min,max] at write time, so the three
    id bands are disjoint at the FILE level."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        docs = load_table(spark, sf, "documents")
        path = str(root / "log")
        base = docs.select("doc_id", F.md5("text").alias("digest"))
        (
            base.repartitionByRange(10, "doc_id")
            .sortWithinPartitions("doc_id")
            .write.parquet(path)
        )
        log = TableLog(path)
        log.init()
        evo = docs.where("doc_id % 3 = 0").select(
            (F.col("doc_id") + 1000000).alias("doc_id"),
            F.md5(F.concat(F.col("text"), F.lit(" evo"))).alias("digest"),
        )
        log.append(
            spark,
            evo.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"),
        )
        late = docs.where("doc_id % 4 = 0").select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.md5(F.concat(F.col("text"), F.lit(" late"))).alias("digest"),
        )
        log.append(
            spark,
            late.repartitionByRange(4, "doc_id")
            .sortWithinPartitions("doc_id"),
        )
        log.delete_where(spark, "doc_id % 5 = 0 AND doc_id < 1000000")

    return TableLog(str(scratch("cdfp", sf, build) / "log"))


def _bloom_log(spark: SparkSession, sf: str):
    """A commit-logged table whose lookup column (md5 digest) is
    UNCLUSTERED — every file's [min, max] spans the whole hex domain,
    so zone maps prune nothing and point lookups are the bloom
    sidecars' job: even doc_ids form the init snapshot (PRE-enablement,
    no sidecars — the always-kept case), blooms are enabled, and odd
    doc_ids land via committed appends in 4 files, each recording its
    digest bloom at write time."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        docs = load_table(spark, sf, "documents")
        path = str(root / "log")
        (
            docs.where("doc_id % 2 = 0")
            .select("doc_id", F.md5("text").alias("digest"))
            .coalesce(2)
            .write.parquet(path)
        )
        log = TableLog(path)
        log.init()
        log.enable_bloom("digest", bits=16384, k=5)
        log.append(
            spark,
            docs.where("doc_id % 2 = 1")
            .select("doc_id", F.md5("text").alias("digest"))
            .repartition(4, "doc_id"),
        )

    return TableLog(str(scratch("blm", sf, build) / "log"))


def _zorder_log(spark: SparkSession, sf: str):
    """A commit-logged events slice Z-ORDERED on (user_id, day): the
    initial write is time-ordered (user_id scattered across every
    file), then ``TableLog.zorder`` reclusters along the interleaved
    quantile-bucket curve so commit-time zone maps are narrow in BOTH
    dimensions."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        path = str(root / "log")
        (
            load_table(spark, sf, "events").select(
                "event_id", "user_id",
                F.dayofmonth("ts").alias("day"),
                F.col("event_type").alias("etype"),
            )
            .repartitionByRange(4, "event_id")  # time-ordered initial load
            .write.parquet(path)
        )
        log = TableLog(path)
        log.init()
        # ~40 files at any scale (>=4 at the smallest sf): file-count is
        # the pruning granularity, not a function of row count
        n = log.row_count()
        log.zorder(
            spark, ["user_id", "day"],
            target_rows_per_file=max(250, n // 40),
        )

    return TableLog(str(scratch("zo", sf, build) / "log"))


def _clone_log(spark: SparkSession, sf: str):
    """A zero-copy CLONE of the zonemap scratch table, then divergent:
    the clone COW-deletes every doc_id % 7 = 0 row while the source
    stays byte-identical — hard-linked immutable data files make the
    clone O(files) metadata with zero data bytes copied."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        clone = _zonemap_log(spark, sf).clone(str(root / "log"))
        clone.delete_where(spark, "doc_id % 7 = 0")

    return TableLog(str(scratch("cl", sf, build) / "log"))


_CLONE_ORACLE = """
SELECT doc_id, md5(text) AS digest
FROM documents
WHERE doc_id % 7 <> 0
"""


@_register(
    "timetravel_clone_divergent",
    _CLONE_ORACLE,
    doc="Zero-copy table CLONE as a query face: TableLog.clone "
    "hard-links one snapshot's immutable data files into an "
    "independent table (O(files) metadata, zero data bytes; stats and "
    "bloom sidecars carried so skipping is warm from the first read), "
    "then the clone DIVERGES with a COW delete. The face reads the "
    "clone and ASSERTS the source's metadata row count is untouched — "
    "so isolation failure (the clone's delete leaking into shared "
    "files) is both a hash mismatch against the oracle's recompute "
    "and a loud assert. At 100 TB this is the dev/eval-copy "
    "primitive: a writable copy of a production snapshot costs "
    "directory entries, and either side's vacuum only drops its own "
    "links (the inode survives until the last one).",
)
def timetravel_clone_divergent(spark: SparkSession, sf: str) -> DataFrame:
    clone = _clone_log(spark, sf)
    src = _zonemap_log(spark, sf)
    # isolation: the clone's COW delete never touched the source
    assert src.row_count() == clone.row_count(version=0)
    assert clone.row_count() < clone.row_count(version=0)
    return clone.read(spark).select("doc_id", "digest")


_ZORDER_BOX_ORACLE = """
SELECT event_id, user_id, CAST(EXTRACT(day FROM ts) AS INT) AS day
FROM events
WHERE user_id BETWEEN 0 AND 4
  AND EXTRACT(day FROM ts) BETWEEN 10 AND 12
"""


@_register(
    "timetravel_zorder_box",
    _ZORDER_BOX_ORACLE,
    doc="Z-ORDER clustering as a query face (the OPTIMIZE ZORDER "
    "maintenance op): TableLog.zorder reclusters events along an "
    "interleaved quantile-bucket curve over (user_id, day), so the "
    "write-time zone maps prune on EITHER dimension — single-column "
    "range clustering would leave the other dimension unprunable. "
    "The builder asserts both single-dimension reads prune files AND "
    "the 2-D box read opens strictly fewer files than the manifest "
    "holds; the box rows themselves hash-match a recompute from raw "
    "events (reclustering is content-neutral — only file stats "
    "sharpen). At 100 TB this is the standard lakehouse answer to "
    "multi-dimension needle queries: k dimensions each prune to "
    "~files^(1-1/k), quantile buckets keep the curve balanced under "
    "skew, and the Z-value is a transient sort key computed in-row "
    "(one approxQuantile pass per column, no join, no stored "
    "column).",
)
def timetravel_zorder_box(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.commitlog import read_pruned

    log = _zorder_log(spark, sf)
    _, files = log.snapshot()
    _, r_u = read_pruned(log, spark, "user_id", lo=0, hi=4)
    _, r_d = read_pruned(log, spark, "day", lo=10, hi=12)
    assert r_u["files_pruned"] > 0 and r_d["files_pruned"] > 0, (r_u, r_d)
    box = log.read(
        spark, where={"user_id": (0, 4), "day": (10, 12)}
    ).select("event_id", "user_id", "day")
    n_in = len(box.inputFiles())
    assert 0 < n_in < len(files), (n_in, len(files))
    return box


_BLOOM_LOOKUP_ORACLE = """
SELECT doc_id, md5(text) AS digest
FROM documents
WHERE md5(text) = (SELECT md5(text) FROM documents WHERE doc_id = 321)
"""


@_register(
    "timetravel_bloom_lookup",
    _BLOOM_LOOKUP_ORACLE,
    doc="Bloom-sidecar POINT-LOOKUP data skipping: an equality read "
    "(read(where={digest: (v, v)})) on an md5-distributed column, "
    "where every file's [min, max] spans the whole domain — zone "
    "maps prune NOTHING, and the per-file blooms recorded at commit "
    "time (TableLog.enable_bloom) prove absence instead. The builder "
    "asserts the scan's input files shrank strictly below the "
    "manifest's count; pre-enablement files carry no sidecar and are "
    "always kept (the never-drop rule), so the face also proves "
    "mixed-era manifests read correctly. The oracle recomputes the "
    "digest match from documents — planted duplicate texts share the "
    "digest, so the result is every copy, found through the blooms. "
    "At 100 TB this is the skipping index for needle queries on "
    "digests/ids: O(1 + fpp × files) file opens instead of O(files), "
    "with the probe fully driver-side (pure-Python md5 twin of the "
    "JVM expression — no Spark job to decide the scan).",
)
def timetravel_bloom_lookup(spark: SparkSession, sf: str) -> DataFrame:
    log = _bloom_log(spark, sf)
    docs = load_table(spark, sf, "documents")
    target = docs.where("doc_id = 321").select(
        F.md5("text").alias("d")
    ).collect()[0]["d"]
    df = log.read(spark, where={"digest": (target, target)})
    _, files = log.snapshot()
    n_in = len(df.select("doc_id", "digest").inputFiles())
    assert 0 < n_in < len(files), (n_in, len(files))
    return df.select("doc_id", "digest")


_CDF_PRUNED_ORACLE = """
SELECT doc_id + 2000000 AS doc_id, md5(text || ' late') AS digest,
       'insert' AS _change_type, CAST(1 AS BIGINT) AS _change_count
FROM documents WHERE doc_id % 4 = 0
"""


@_register(
    "timetravel_cdf_pruned",
    _CDF_PRUNED_ORACLE,
    doc="Zone maps meet the change data feed (VERDICT r13 next-round "
    "#3): TableLog.changes(0, 3, key_cols, where={doc_id: (2e6, "
    "None)}) over a history of two clustered appends and a COW "
    "delete. The bound means 'the change feed of the doc_id >= 2e6 "
    "subset', and the commit-time per-file stats prune every "
    "entering/leaving file outside the band — the builder asserts "
    "the bounded scan's input files shrank strictly below the full "
    "feed's, so the face fails if bounded CDC ever regresses to "
    "reading all changed files. The oracle recomputes the one "
    "in-band batch from documents. At 100 TB this is the incremental "
    "consumer's contract: 'changes where ts >= X' costs O(matching "
    "changed files) — on a time-clustered table one file per commit "
    "— never O(changed files), and the pruning is the SAME "
    "_prune_files core the snapshot read path uses.",
)
def timetravel_cdf_pruned(spark: SparkSession, sf: str) -> DataFrame:
    log = _cdf_pruned_log(spark, sf)
    full = log.changes(spark, 0, 3, key_cols=["doc_id"])
    bounded = log.changes(
        spark, 0, 3, key_cols=["doc_id"], where={"doc_id": (2000000, None)}
    )
    n_full = len(full.inputFiles())
    n_bound = len(bounded.inputFiles())
    assert 0 < n_bound < n_full, (n_bound, n_full)  # pruning engaged
    return bounded.select(
        "doc_id", "digest", "_change_type", "_change_count"
    )


def _dv_log(spark: SparkSession, sf: str):
    """A commit-logged documents table with two MERGE-ON-READ deletes
    on top (delete_where_mor — Iceberg v2 position deletes): v0 init,
    v1 deletes doc_id % 7 = 3, v2 deletes doc_id % 11 = 5 of the
    remainder. Deterministic version chain."""
    from cve_manager_spark.commitlog import TableLog

    def build(root):
        path = str(root / "docs_log")
        (
            load_table(spark, sf, "documents")
            .select("doc_id", F.md5("text").alias("digest"))
            .repartition(8, "doc_id")
            .write.parquet(path)
        )
        log = TableLog(path)
        log.init()
        log.delete_where_mor(spark, "doc_id % 7 = 3")
        log.delete_where_mor(spark, "doc_id % 11 = 5")

    return TableLog(str(scratch("dv", sf, build) / "docs_log"))


_DV_DELETE_ORACLE = """
SELECT doc_id, md5(text) AS digest
FROM documents
WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
"""


@_register(
    "timetravel_dv_delete",
    _DV_DELETE_ORACLE,
    doc="MERGE-ON-READ deletion vectors as a query face (Iceberg v2 "
    "position deletes / Delta deletion vectors): two stacked "
    "delete_where_mor commits write (file, row_index) position-delete "
    "files under _deletes/ and a dv block in the manifest — the "
    "builder ASSERTS the data-file list is IDENTICAL across all three "
    "versions (zero bytes rewritten) and that the metadata-only "
    "row_count agrees with the scan, then returns the DV-applied "
    "read, which must hash-match the oracle's recompute from raw "
    "documents. Composition is part of the contract: the second "
    "delete's predicate is evaluated on the first delete's applied "
    "snapshot, so counts stay exact. At 100 TB this is the difference "
    "between deleting k rows for O(k) write (positions only, "
    "anti-joined at scan — broadcast while small, the exact count "
    "known from the manifest) and rewriting every touched file's "
    "terabytes; compact()/zorder() materialize the vectors back when "
    "read amplification accumulates. COW-delete parity is proven "
    "row-for-row by test_mor_matches_cow_delete_semantics_exactly "
    "(tests/test_deletion_vectors.py); this face is the same content "
    "through the MOR path.",
)
def timetravel_dv_delete(spark: SparkSession, sf: str) -> DataFrame:
    log = _dv_log(spark, sf)
    m0, f0 = log.snapshot(0)
    _, f2 = log.snapshot(2)
    assert f0 == f2, "MOR delete must rewrite zero data files"
    # pinned at v2: the update face extends the same chain past it
    df = log.read(spark, version=2)
    assert log.row_count(2) == log.row_count(0) - sum(
        log._dv_of(2)["counts"].values()
    )
    return df.select("doc_id", "digest")


_DV_CDF_ORACLE = """
SELECT doc_id, md5(text) AS digest,
       'delete' AS _change_type, CAST(1 AS BIGINT) AS _change_count
FROM documents
WHERE doc_id % 7 = 3 OR (doc_id % 7 <> 3 AND doc_id % 11 = 5)
"""


@_register(
    "timetravel_dv_cdf",
    _DV_CDF_ORACLE,
    doc="The change data feed ACROSS merge-on-read deletes: between "
    "v0 and v2 not one data file entered or left the manifest — the "
    "content change lives entirely in the position-delete sets, and "
    "changes() diffs those per common file (entries added -> the "
    "deleted rows' content surfaces as 'delete'), reading ONLY the "
    "files the added entries name. The oracle recomputes both "
    "deletes' row sets from raw documents; a CDF that missed "
    "DV-only commits would return an empty feed and hash-mismatch "
    "loudly. At 100 TB the cost contract is the same O(changed) as "
    "file-diff CDF: the dv relations are O(deleted rows) and the "
    "content reads touch O(files-with-new-entries), never the "
    "snapshot.",
)
def timetravel_dv_cdf(spark: SparkSession, sf: str) -> DataFrame:
    log = _dv_log(spark, sf)
    ch = log.changes(spark, 0, 2, key_cols=["doc_id"])
    return ch.select("doc_id", "digest", "_change_type", "_change_count")


_DV_UPDATE_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 13 = 1 THEN upper(md5(text))
            ELSE md5(text) END AS digest
FROM documents
WHERE doc_id % 7 <> 3 AND doc_id % 11 <> 5
"""


@_register(
    "timetravel_dv_update",
    _DV_UPDATE_ORACLE,
    doc="MERGE-ON-READ UPDATE as a query face (UPDATE ... SET through "
    "position deletes + appended new images, one atomic commit): "
    "update_where_mor marks the matched rows' old positions deleted "
    "and stages their transformed images as fresh part files — the "
    "builder ASSERTS every pre-update data file is still listed "
    "byte-identical in the new manifest (the update rewrote nothing) "
    "and cardinality is preserved, then returns the read, which must "
    "hash-match the oracle's CASE recompute over raw documents — on "
    "top of the two earlier MOR deletes, so the update predicate is "
    "proven to evaluate on the DV-applied snapshot (a deleted row "
    "must not be updated back to life). At 100 TB this completes the "
    "MOR DML triad: UPDATE k rows costs O(k) positions + O(k) new "
    "images instead of rewriting every touched file, and the keyed "
    "change feed still classifies it as the standard "
    "pre/post-image pair.",
)
def timetravel_dv_update(spark: SparkSession, sf: str) -> DataFrame:
    log = _dv_log(spark, sf)
    if not (log.root / "_commits" / f"v{3:012d}.json").exists():
        log.update_where_mor(
            spark, "doc_id % 13 = 1", {"digest": "upper(digest)"}
        )
    _, f2 = log.snapshot(2)
    _, f3 = log.snapshot(3)
    assert set(f2) < set(f3), "update must keep every old data file"
    assert log.row_count(3) == log.row_count(2)
    return log.read(spark, version=3).select("doc_id", "digest")


_ASOF_TS_ORACLE = """
SELECT doc_id, md5(text) AS digest
FROM documents
WHERE doc_id % 7 <> 3
"""


@_register(
    "timetravel_asof_ts",
    _ASOF_TS_ORACLE,
    doc="AS OF TIMESTAMP time travel: every manifest records its "
    "publish wall clock, and version_at() resolves an instant to the "
    "newest commit at-or-before it (predecessor lookup over the "
    "retained manifests — timestamps are monotone in version because "
    "versions publish serially through the exclusive hard link). The "
    "face reads the DV scratch table at the MIDPOINT between commit "
    "1's and commit 2's recorded clocks — deterministically the "
    "post-first-delete snapshot regardless of when the table was "
    "built — and must hash-match the oracle's single-predicate "
    "recompute; resolving past the second delete instead would "
    "mismatch on every doc_id % 11 = 5 row. Also asserts the "
    "too-early timestamp fails loudly (vacuumed-history contract). "
    "At 100 TB this is the ops-facing face of time travel ('what did "
    "the table look like before last night's job'): O(#retained "
    "manifests) driver-side JSON reads, no Spark job to resolve.",
)
def timetravel_asof_ts(spark: SparkSession, sf: str) -> DataFrame:
    log = _dv_log(spark, sf)
    t1, t2 = log.commit_ts_of(1), log.commit_ts_of(2)
    assert t1 < t2
    mid = (t1 + t2) / 2
    assert log.version_at(mid) == 1
    try:
        log.version_at(log.commit_ts_of(0) - 1.0)
        raise AssertionError("pre-history timestamp must fail loudly")
    except ValueError:
        pass
    return log.read(spark, timestamp=mid).select("doc_id", "digest")


_CATALOG_ASOF_ORACLE = """
SELECT o.o_orderkey, o.o_custkey,
       CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS total_cents,
       c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""


@_register(
    "catalog_asof_ts",
    _CATALOG_ASOF_ORACLE,
    doc="Multi-table AS OF TIMESTAMP: CatalogLog.version_at resolves "
    "one wall-clock instant to one catalog version, whose pin set is "
    "MUTUALLY CONSISTENT by construction (one catalog commit moved "
    "all its tables together) — per-table timestamp resolution could "
    "land facts and dim on opposite sides of a transaction; the "
    "catalog cannot. The face reads facts AS OF the midpoint between "
    "catalog v0's and v1's recorded clocks — deterministically the "
    "PRE-transaction snapshot — and joins the same instant's dim, so "
    "it must hash-match the UN-purged, UN-rewritten recompute from "
    "raw orders/customer; resolving even one table at the post-"
    "transaction pin would mismatch on every purged order or "
    "rewritten segment. At 100 TB this is the audit/repro face of "
    "multi-table time travel ('rebuild the training batch exactly as "
    "the pipeline saw it at 02:00'): resolution is O(#retained "
    "catalog manifests) driver-side JSON reads, no Spark job.",
)
def catalog_asof_ts(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.catalogtx import CatalogLog

    cat = CatalogLog(_catalog_tx_scratch(spark, sf))
    t0, t1 = cat.commit_ts_of(0), cat.commit_ts_of(1)
    assert t0 < t1
    mid = (t0 + t1) / 2
    assert cat.version_at(mid) == 0
    facts = cat.read(spark, "facts", timestamp=mid)
    dim = cat.read(spark, "dim", timestamp=mid)
    return facts.join(
        dim, F.col("o_custkey") == F.col("c_custkey")
    ).select("o_orderkey", "o_custkey", "total_cents", "c_mktsegment")
