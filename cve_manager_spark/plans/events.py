"""Event-stream-shaped queries over the ``events`` table (SURVEY §2.7).

The reference has no streaming at all — its refresh model is re-download +
TRUNCATE + reload (cve_manager.py:376). These are the batch-checkable
equivalents of the Structured Streaming operators in
``cve_manager_spark/streaming/``: the same ``F.window`` / ``session_window``
expressions work unchanged under ``readStream`` with a watermark.

Scale notes: time-windowed aggregation shuffles on (window, key) — bounded
cardinality; session windows shuffle on user_id and sort within partitions
(Spark's session-window exec merges adjacent sessions without a global
sort). At 100 TB the events table would be partitioned by date so window
queries prune to the scanned time range.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cve_manager_spark.functions.helpers import dec_sum
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


@_register(
    "window_tumbling",
    "SELECT date_trunc('hour', ts) AS win_start, event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
    doc="T1 tumbling 1h window aggregate via F.window (epoch-aligned, so the "
    "window start equals date_trunc('hour')).",
)
def window_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )


_SESSION_ORACLE = """
WITH d AS (
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   < INTERVAL 30 MINUTE THEN 0 ELSE 1 END AS new_s
  FROM events
), s AS (
  SELECT user_id, ts,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM d
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
FROM s GROUP BY user_id, sid
"""


@_register(
    "window_session",
    _SESSION_ORACLE,
    doc="T2 session window (30-minute gap). Spark session_window start is the "
    "earliest event's time, matching the gaps-and-islands oracle. The merge "
    "bound is strict (< gap): Spark sessions span [ts, ts+gap) and merge only "
    "on overlap, so an event exactly gap-after its predecessor opens a new "
    "session — the oracle states the same strict predicate.",
)
def window_session(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("session_start"), "n_events")
    )


@_register(
    "dedup_keyed",
    "SELECT user_id, event_type, MIN(event_id) AS first_event, COUNT(*) AS n_dups "
    "FROM events GROUP BY user_id, event_type",
    doc="T4 keyed dedup, batch form: keep the first event per (user, type). "
    "Deterministic keep-rule (MIN id) instead of dropDuplicates' arbitrary "
    "row pick; the streaming twin is dropDuplicatesWithinWatermark.",
)
def dedup_keyed(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event"), F.count(F.lit(1)).alias("n_dups")
    )


@_register(
    "event_type_share",
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(COUNT(*) AS DOUBLE) / (SELECT COUNT(*) FROM events) AS share "
    "FROM events GROUP BY event_type",
    doc="Rate-style metric: per-type share of total events (scalar subquery / "
    "broadcast of a 1-row aggregate).",
)
def event_type_share(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    total = ev.agg(F.count(F.lit(1)).alias("total"))
    return (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(F.broadcast(total))
        .select(
            "event_type",
            "n",
            (F.col("n").cast("double") / F.col("total")).alias("share"),
        )
    )


_ASOF_ORACLE = """
SELECT p.event_id, p.user_id, p.ts,
       (SELECT MAX(c.ts) FROM events c
        WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts)
       AS asof_click_ts
FROM events p WHERE p.event_type = 'purchase'
"""


@_register(
    "join_asof",
    _ASOF_ORACLE,
    doc="As-of join: each purchase paired with the user's most recent click "
    "at-or-before it. Union+window formulation (operators.asof) — one "
    "shuffle on the key; the oracle's correlated subquery states the "
    "semantics (per-row probes would not scale).",
)
def join_asof(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import functions as FX

    from cve_manager_spark.operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.where(FX.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        ev.where(FX.col("event_type") == "click")
        .select("user_id", "ts", FX.col("ts").alias("click_ts"))
    )
    return asof_join(
        purchases, clicks, on="user_id", value_cols=["click_ts"], tie_break="click_ts"
    ).select(
        "event_id", "user_id", "ts", FX.col("asof_click_ts")
    )


_INTERVAL_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS p_ts,
       c.event_id AS click_id, c.ts AS c_ts
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
WHERE p.event_type = 'purchase' AND c.event_type = 'click'
"""


@_register(
    "join_interval",
    _INTERVAL_JOIN_ORACLE,
    doc="Event-time interval join: each purchase × the same user's clicks "
    "in the trailing hour (inclusive) — the attribution join. Equality "
    "key (user_id) + closed time bounds; the IDENTICAL builder runs as a "
    "watermarked stream-stream join (streaming/joins.py, stream==batch "
    "asserted), so this row gives the streaming operator a hash-checked "
    "batch verdict.",
)
def join_interval(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.streaming.joins import clicks_before_purchase

    ev = load_table(spark, sf, "events")
    return clicks_before_purchase(ev, ev)


_SLIDING_ORACLE = """
WITH w AS (
  SELECT event_type, value,
         unnest([
           TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(floor(epoch(ts) / 1800) * 1800 AS BIGINT),
           TIMESTAMP '1970-01-01' + INTERVAL 1 SECOND * CAST(floor(epoch(ts) / 1800) * 1800 - 1800 AS BIGINT)
         ]) AS win_start
  FROM events
)
SELECT win_start, event_type, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM w GROUP BY win_start, event_type
"""


@_register(
    "window_sliding",
    _SLIDING_ORACLE,
    doc="T1 sliding/hopping window: 1h windows every 30min — each event lands "
    "in two windows (F.window with slide). The oracle materializes the same "
    "two epoch-aligned window starts per event.",
)
def window_sliding(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), dec_sum(F.col("value")).alias("sum_value"))
        .select(F.col("w.start").alias("win_start"), "event_type", "n", "sum_value")
    )


@_register(
    "json_extract",
    "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events",
    doc="Semi-structured projection: extract a field from a JSON string "
    "column (get_json_object — JVM-side JSON path, no Python). The "
    "schema-on-read twin of the NVD nested-struct projection (P1).",
)
def json_extract(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("int").alias("k")
    )


@_register(
    "json_schema_infer",
    "SELECT CAST(json_extract_string(props, '$.k') AS INT) % 10 AS k_mod, COUNT(*) AS n "
    "FROM events GROUP BY 1",
    doc="Aggregate over a JSON-extracted field via from_json with an "
    "explicit schema (the scale path: parse once, typed column out).",
)
def json_schema_infer(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    parsed = ev.select(F.from_json("props", "k int").alias("p"))
    return (
        parsed.select((F.col("p.k") % 10).alias("k_mod"))
        .groupBy("k_mod")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_register(
    "grouped_median_pandas",
    "SELECT event_type, quantile_cont(value, 0.5) AS median_v FROM events GROUP BY event_type",
    doc="Grouped-map UDF surface (SURVEY §2.10): applyInPandas computing the "
    "per-group median. Median is a selection/mean-of-two-middles — identical "
    "operands in pandas and quantile_cont, so it oracle-checks exactly "
    "(unlike order-dependent float sums). One shuffle on the group key; "
    "each group becomes one Arrow batch.",
)
def grouped_median_pandas(spark: SparkSession, sf: str) -> DataFrame:
    import pandas as pd

    ev = load_table(spark, sf, "events")

    def median(pdf: "pd.DataFrame") -> "pd.DataFrame":
        return pd.DataFrame(
            {"event_type": [pdf["event_type"].iloc[0]], "median_v": [pdf["value"].median()]}
        )

    return ev.groupBy("event_type").applyInPandas(
        median, schema="event_type string, median_v double"
    )


@_register(
    "argmax_per_key",
    "SELECT user_id, event_id AS top_event, value AS top_value FROM events "
    "QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) = 1",
    doc="Argmax (whole-row max per key): ranking window with a deterministic "
    "tie-break — the pattern behind keep-newest dedup and best-candidate "
    "selection. (max_by would pick arbitrarily on value ties.)",
)
def argmax_per_key(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("top_event"),
            F.col("value").alias("top_value"),
        )
    )


@_register(
    "window_range_frame",
    "SELECT event_id, user_id, ts, "
    "COUNT(*) OVER (PARTITION BY user_id ORDER BY ts "
    "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour "
    "FROM events",
    doc="Time-based RANGE window frame: per event, how many of the user's "
    "events fall in the trailing hour (inclusive). Spark range frames "
    "need a numeric order key, so the frame is expressed over exact epoch "
    "microseconds — identical inclusive bounds to the INTERVAL form.",
)
def window_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", "ts", F.count(F.lit(1)).over(w).alias("n_last_hour")
    )


# ---------------------------------------------------------------------------
# folded from the round10b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# incremental view maintenance proof
# ---------------------------------------------------------------------------

_IVM_ORACLE = """
SELECT CAST(ts AS DATE) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events GROUP BY day, event_type
"""


@_register(
    "ivm_rollup_delta",
    _IVM_ORACLE,
    doc="Incremental view maintenance, proven: the (day, event_type) "
    "rollup is computed as BASE VIEW (event_id %% 7 <> 3) plus a DELTA "
    "increment (the held-out slice) applied by full-outer join-add — "
    "and the oracle is the FULL RECOMPUTE, so the driver hash "
    "certifies increment-apply == recompute. This works only because "
    "the measures are associative exact types (BIGINT count, "
    "DECIMAL(18,4) sum added BEFORE the final double cast — adding "
    "doubles would drift); it is the correctness core of every "
    "streaming rollup sink in streaming/sinks.py, stated as a "
    "hash-checked batch face. Delta cost is delta-sized, never "
    "view-sized.",
)
def ivm_rollup_delta(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.functions.helpers import dec

    ev = load_table(spark, sf, "events")

    def roll(df: DataFrame) -> DataFrame:
        return (
            df.select(
                F.to_date("ts").alias("day"), "event_type", "value"
            )
            .groupBy("day", "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(dec(F.col("value"))).alias("dsum"),
            )
        )

    base = roll(ev.where(F.col("event_id") % 7 != 3))
    delta = roll(ev.where(F.col("event_id") % 7 == 3))
    b = base.select(
        "day", "event_type", F.col("n").alias("n_b"), F.col("dsum").alias("d_b")
    )
    d = delta.select(
        "day", "event_type", F.col("n").alias("n_d"), F.col("dsum").alias("d_d")
    )
    merged = b.join(d, ["day", "event_type"], "full_outer")
    zero = F.lit(0).cast("decimal(18,4)")
    return merged.select(
        "day",
        "event_type",
        (F.coalesce("n_b", F.lit(0)) + F.coalesce("n_d", F.lit(0)))
        .cast("bigint")
        .alias("n"),
        (F.coalesce(F.col("d_b"), zero) + F.coalesce(F.col("d_d"), zero))
        .cast("double")
        .alias("sum_value"),
    )
