"""Round-2 corpus/analytics queries: decontamination, sequence packing,
time-series gap fill, grouping sets, funnel/cohort analytics, vector
centroids and multi-query kNN.

These extend the training-data pipeline (SURVEY §2.8 / BASELINE.json
north_star) and the relational surface with the operations a pretraining
data platform runs daily: test-set decontamination before training,
token-budget sequence packing for the dataloader, zero-filled activity
resampling for monitoring, and funnel/retention analytics over the event
stream. Every spec is oracle-paired (DuckDB formula identical to the
Spark plan) and follows the determinism contract in plans/spec.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.functions.helpers import dec, dec_sum, fan_out, values_relation
from cve_manager_spark.operators import dedup as D
from cve_manager_spark.operators import similarity as S
from cve_manager_spark.operators import text as T
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# ---------------------------------------------------------------------------
# training-data pipeline
# ---------------------------------------------------------------------------

_DECONTAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id, list_distinct(CASE WHEN len(w) >= 3
    THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
    ELSE [] END) AS s
  FROM toks
), ex AS (SELECT doc_id, unnest(s) AS s FROM sh)
SELECT c.doc_id, COUNT(DISTINCT c.s) AS n_hits
FROM ex c JOIN ex t ON c.s = t.s
WHERE c.doc_id % 97 <> 0 AND t.doc_id % 97 = 0
GROUP BY c.doc_id
"""


@_register(
    "decontaminate_ngram",
    _DECONTAM_ORACLE,
    doc="Test-set decontamination: corpus documents sharing any word n-gram "
    "with a held-out set (doc_id % 97 == 0 stands in for the eval set; "
    "n=3 here for test-corpus density — production uses 8-13). The "
    "held-out shingle set is orders of magnitude smaller than the corpus, "
    "so it broadcasts; the corpus side stays a narrow scan + explode and "
    "the only shuffle is the per-doc hit count — the shape that survives "
    "a 100 TB corpus against a fixed eval suite.",
)
def decontaminate_ngram(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    ex = docs.select(
        "doc_id", F.explode(D.word_shingles(F.col("text"), 3)).alias("s")
    )
    test = ex.where(F.col("doc_id") % 97 == 0).select("s").distinct()
    corpus = ex.where(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(test), "s")
        # per-doc shingles and the broadcast side are both distinct, so a
        # plain count equals COUNT(DISTINCT shared shingle)
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


_PACK_ORACLE = """
WITH t AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
         ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 8 AS shard,
         md5(CAST(doc_id AS VARCHAR)) AS skey
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         SUM(n_tokens) OVER (PARTITION BY shard ORDER BY skey, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, shard, n_tokens,
       CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_id
FROM c
"""


@_register(
    "pack_sequences",
    _PACK_ORACLE,
    doc="Token-budget sequence packing: documents are hash-sharded (md5, "
    "same key as sample_hash), deterministically shuffled within the "
    "shard, and packed contiguously into 2048-token sequences via a "
    "running-total window (seq = floor(preceding_tokens / budget)) — the "
    "dataloader-side packing step of a pretraining pipeline. Packing is "
    "per-shard, so the window sort is hash-partitioned, never global; "
    "shard count is the parallelism dial at 100 TB.",
)
def pack_sequences(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    base = docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).cast("bigint").alias("n_tokens"),
        (F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 8).alias(
            "shard"
        ),
        F.md5(F.col("doc_id").cast("string")).alias("skey"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("skey", "doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = F.sum("n_tokens").over(w)
    return base.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((cum - F.col("n_tokens")) / 2048).cast("bigint").alias("seq_id"),
    )


_CLUSTER_REP_ORACLE = """
WITH c AS (
  SELECT doc_id, n_chars,
         MIN(doc_id) OVER (PARTITION BY lang) AS component,
         COUNT(*) OVER (PARTITION BY lang) AS n_docs
  FROM documents
), r AS (
  SELECT component, n_docs, doc_id AS rep_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY component
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM c WHERE n_docs >= 2
)
SELECT component, rep_id, n_chars AS rep_n_chars, n_docs
FROM r WHERE rn = 1
"""


@_register(
    "dedup_cluster_rep",
    _CLUSTER_REP_ORACLE,
    doc="Canonical-document selection: connected components over near-dup "
    "edges (operators.graph — same chained edges as dedup_clusters, so "
    "components are exactly the ≥2-doc language groups and the oracle is "
    "closed-form), then keep the best document per cluster (max n_chars, "
    "min-id tie-break). This is the keep-rule half of near-dedup: cluster "
    "→ argmax, two windows partitioned on the component key.",
)
def dedup_cluster_rep(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.graph import connected_components

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        docs.select("doc_id", "lang")
        .withColumn("next_id", F.lead("doc_id").over(w))
        .where(F.col("next_id").isNotNull())
        .select(F.col("doc_id").alias("id_a"), F.col("next_id").alias("id_b"))
    )
    cc = connected_components(edges)
    j = cc.join(
        docs.select(F.col("doc_id").alias("node"), "n_chars"), "node"
    )
    wc = Window.partitionBy("component")
    wr = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("node")
    )
    return (
        j.withColumn("n_docs", F.count(F.lit(1)).over(wc))
        .withColumn("__rn", F.row_number().over(wr))
        .where(F.col("__rn") == 1)
        .select(
            "component",
            F.col("node").alias("rep_id"),
            F.col("n_chars").alias("rep_n_chars"),
            "n_docs",
        )
    )


_CENTROID_ORACLE = """
WITH e AS (
  SELECT label,
         generate_subscripts(embedding, 1) - 1 AS pos,
         CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS micro
  FROM embeddings
)
SELECT label, CAST(pos AS INT) AS pos,
       CAST(SUM(micro) AS BIGINT) AS sum_micro, COUNT(*) AS n,
       CAST(SUM(micro) AS DOUBLE) / COUNT(*) / 1000000 AS centroid
FROM e GROUP BY label, pos
"""


@_register(
    "embedding_centroid",
    _CENTROID_ORACLE,
    doc="Per-label embedding centroid (class prototype / cluster center). "
    "Elements are floor-quantized to exact integer micro-units before the "
    "cross-row sum — floor has no rounding ties, so the aggregate is "
    "order-independent and bitwise identical across engines (the same "
    "reason dec_sum exists; decimal casts of floats CAN tie at the "
    "rounding digit). posexplode → one hash aggregate on (label, dim): "
    "partial aggregation makes the shuffle O(labels × dims), not O(rows).",
)
def embedding_centroid(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    micro = F.floor(F.col("val").cast("double") * 1000000).cast("long")
    return (
        e.groupBy("label", "pos")
        .agg(F.sum(micro).alias("sum_micro"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "pos",
            "sum_micro",
            "n",
            (F.col("sum_micro").cast("double") / F.col("n") / 1000000).alias(
                "centroid"
            ),
        )
    )


_KNN_JOIN_ORACLE = """
WITH d AS (
  SELECT q.vec_id AS q_id, e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(q.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM embeddings e JOIN embeddings q ON q.vec_id < 5 AND e.vec_id >= 5
  CROSS JOIN range(1, 65) t(i)
  GROUP BY q.vec_id, e.vec_id
)
SELECT q_id, vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim FROM (
  SELECT q_id, vec_id, dot, na, nb,
         ROW_NUMBER() OVER (PARTITION BY q_id
                            ORDER BY dot / (SQRT(na) * SQRT(nb)) DESC, vec_id) AS rn
  FROM d
) WHERE rn <= 3
"""


@_register(
    "knn_join_multi",
    _KNN_JOIN_ORACLE,
    doc="kNN JOIN: top-3 corpus neighbors for EACH of a batch of query "
    "vectors (vec_id < 5), not a single probe — the batched retrieval "
    "shape. The query batch broadcasts (it is the small side by "
    "construction); scores are a narrow map over the corpus and the only "
    "shuffle is the per-query ranking window. At 100 TB the same plan "
    "holds until the batch outgrows broadcast, where ann_lsh bucketing "
    "takes over.",
)
def knn_join_multi(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    qs = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qvec")
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    scores = corpus.crossJoin(F.broadcast(qs)).select(
        "q_id",
        "vec_id",
        S.cosine(S.as_double(F.col("embedding")), S.as_double(F.col("qvec"))).alias(
            "cos"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scores.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select("q_id", "vec_id", F.round("cos", 6).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# event analytics
# ---------------------------------------------------------------------------

_FILL_GAPS_ORACLE = """
WITH b AS (SELECT CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM events),
days AS (SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day FROM b),
types AS (SELECT DISTINCT event_type FROM events),
actual AS (
  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT t.event_type, d.day, COALESCE(a.n, 0) AS n
FROM days d CROSS JOIN types t
LEFT JOIN actual a ON a.event_type = t.event_type AND a.day = d.day
"""


@_register(
    "fill_gaps",
    _FILL_GAPS_ORACLE,
    doc="Time-series gap filling: daily event counts per type with missing "
    "(type, day) cells zero-filled — resampling onto a dense calendar "
    "grid so downstream charts/models see explicit zeros. The grid "
    "(days × types) is generated with sequence+explode and is tiny by "
    "construction, so it broadcasts against the aggregated counts; the "
    "only data-sized shuffle is the partial-aggregated daily count.",
)
def fill_gaps(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    b = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    days = b.select(F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"))
    types = ev.select("event_type").distinct()
    actual = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    grid = days.crossJoin(types)
    return grid.join(actual, ["event_type", "day"], "left").select(
        "event_type", "day", F.coalesce("n", F.lit(0)).alias("n")
    )


_FUNNEL_ORACLE = """
WITH u AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT COUNT(*) AS n_users,
       COUNT(t_view) AS step_view,
       COUNT(CASE WHEN t_click > t_view THEN 1 END) AS step_click,
       COUNT(CASE WHEN t_purchase > t_click AND t_click > t_view THEN 1 END) AS step_purchase
FROM u
"""


@_register(
    "events_funnel",
    _FUNNEL_ORACLE,
    doc="Ordered conversion funnel: users whose first view precedes their "
    "first click precedes their first purchase — the sequential-pattern "
    "aggregate of product analytics. One conditional-MIN aggregate per "
    "user (map-side partial) then a single global roll-up row; NULL "
    "comparison semantics drop users missing a step (3VL, identical in "
    "both engines).",
)
def events_funnel(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("step_view"),
        F.count(F.when(F.col("t_click") > F.col("t_view"), 1)).alias("step_click"),
        F.count(
            F.when(
                (F.col("t_purchase") > F.col("t_click"))
                & (F.col("t_click") > F.col("t_view")),
                1,
            )
        ).alias("step_purchase"),
    )


_LAG_GAP_ORACLE = """
WITH g AS (
  SELECT user_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                                               ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT user_id, COUNT(gap) AS n_gaps,
       CAST(SUM(gap) AS BIGINT) AS total_gap_us,
       MAX(gap) AS max_gap_us
FROM g GROUP BY user_id
"""


@_register(
    "events_lag_gap",
    _LAG_GAP_ORACLE,
    doc="Inter-event gap statistics per user (lag diff over the user's "
    "event-time order, deterministic event_id tie-break): count/total/max "
    "gap in exact integer microseconds — the session-health signal behind "
    "gap-based sessionization thresholds. unix_micros under the UTC "
    "session matches DuckDB epoch_us exactly; all aggregates are integer.",
)
def events_lag_gap(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts"), F.col("event_id"))
    gap = us - F.lag(us).over(w)
    return (
        ev.select("user_id", gap.alias("gap"))
        .groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").alias("total_gap_us"),
            F.max("gap").alias("max_gap_us"),
        )
    )


@_register(
    "regexp_extract_numbers",
    "SELECT event_id, array_to_string(regexp_extract_all(props, '[0-9]+'), ',') AS nums "
    "FROM events",
    doc="regexp_extract_all surface: every digit run in the raw props "
    "payload, joined in match order — the scrape-structured-bits-out-of-"
    "logs primitive. Pure narrow map (JVM regex, no Python); both engines "
    "run the same RE2-safe pattern.",
)
def regexp_extract_numbers(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.select(
        "event_id",
        F.array_join(
            F.regexp_extract_all(F.col("props"), F.lit("[0-9]+"), F.lit(0)), ","
        ).alias("nums"),
    )


@_register(
    "agg_string_concat",
    "SELECT user_id, array_to_string(list_sort(array_agg(DISTINCT event_type)), ',') AS types, "
    "COUNT(*) AS n_events FROM events GROUP BY user_id",
    doc="Ordered string aggregation: the sorted distinct event types a user "
    "triggered, as one CSV cell (collect_set → array_sort → array_join — "
    "sorting makes the collected set deterministic). Distinct-type "
    "cardinality is tiny and bounded, so collect_set stays map-side "
    "cheap at any row count.",
)
def agg_string_concat(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("types"),
        F.count(F.lit(1)).alias("n_events"),
    )


# ---------------------------------------------------------------------------
# relational surface extensions
# ---------------------------------------------------------------------------

_GROUPING_SETS_ORACLE = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@_register(
    "agg_grouping_sets",
    _GROUPING_SETS_ORACLE,
    doc="GROUPING SETS: two independent one-column aggregates plus the "
    "grand total in a single pass (the general form of rollup/cube — "
    "X4's third face). Spark expands sets over one shuffle with partial "
    "aggregation per set; exact-decimal sum keeps the double measure "
    "order-independent.",
)
def agg_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    return orders.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum(F.col("o_totalprice")).alias("total"),
    )


@_register(
    "window_percent_rank",
    "SELECT o_orderkey, o_orderpriority, "
    "percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS pr, "
    "cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS cd "
    "FROM orders",
    doc="Distribution-rank windows: percent_rank and cume_dist within each "
    "order priority (X5's relative-standing face). The unique o_orderkey "
    "tie-break makes ranks total; both functions emit exact small-integer "
    "ratios, bitwise identical across engines, so no rounding is needed. "
    "Partitioned window — hash exchange, per-partition sort only.",
)
def window_percent_rank(spark: SparkSession, sf: str) -> DataFrame:
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice"), F.col("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


_STOP5 = ("the", "a", "of", "and", "to")

_ARRAY_OPS_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_distinct(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS w
  FROM documents
)
SELECT doc_id,
  COALESCE(array_to_string(list_sort(list_intersect(w, ['the','a','of','and','to'])), ','), '') AS stop_hits,
  CAST(len(list_filter(w, x -> NOT list_contains(['the','a','of','and','to'], x))) AS INT) AS n_content
FROM t
"""


@_register(
    "array_set_ops",
    _ARRAY_OPS_ORACLE,
    doc="Array set algebra (intersect/except over distinct token arrays vs "
    "a constant vocabulary): which stopwords a document uses and how many "
    "content tokens remain — the array-function face of the text "
    "pipeline. Sorting the intersection makes element order, and with it "
    "the CSV rendering, engine-independent; all codegen expressions, "
    "narrow map, no shuffle at all.",
)
def array_set_ops(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    stop = F.array(*[F.lit(s) for s in _STOP5])
    w = F.array_distinct(T.words(F.lower(F.col("text"))))
    return docs.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_intersect(w, stop)), ",").alias("stop_hits"),
        F.size(F.array_except(w, stop)).alias("n_content"),
    )


@_register(
    "posexplode_index",
    "WITH t AS (SELECT doc_id, "
    "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w "
    "FROM documents) "
    "SELECT doc_id, CAST(generate_subscripts(w, 1) - 1 AS INT) AS pos, "
    "unnest(w) AS token FROM t",
    doc="Positional explode: tokens with their 0-based offsets (posexplode "
    "— E1 with provenance). Position-aware token rows are what windowed "
    "attention-span stats and span-labeling pipelines consume; same "
    "narrow fan-out cost as plain explode.",
)
def posexplode_index(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return docs.select(
        "doc_id", F.posexplode(T.words(F.lower(F.col("text")))).alias("pos", "token")
    )


# ---------------------------------------------------------------------------
# pipeline design-dial sweeps (folded from the round-10e tranche): the
# parameter curves an engineer reads BEFORE committing a 100 TB pass
# to one setting — several candidate settings evaluated in one (or a
# few) scans, so choosing a knob costs a report query instead of N
# full pipeline runs. Same family as minhash_band_stats (LSH banding
# curve) and cms_width_sweep (sketch width curve).
# ---------------------------------------------------------------------------


_TOKS = """
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
"""


def _shingle_profile_duck(n: int) -> str:
    return f"""(
  WITH toks AS ({_TOKS}), sh AS (
    SELECT doc_id,
           md5(unnest(list_transform(range(1, len(w) - {n - 2}),
             i -> array_to_string(w[i:i+{n - 1}], ' ')))) AS g
    FROM toks WHERE len(w) >= {n}
  ), gc AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS c FROM sh GROUP BY g
  )
  SELECT {n} AS n, CAST(COUNT(*) AS BIGINT) AS n_distinct,
         CAST(SUM(c) AS BIGINT) AS n_occurrences,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_occurrences,
         CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000
              // SUM(c) AS BIGINT) AS dup_ppm
  FROM gc
)"""


@_register(
    "shingle_size_sweep",
    " UNION ALL ".join(_shingle_profile_duck(n) for n in (2, 3, 5)),
    doc="The n-gram-size dial for shingle dedup, measured: for n in "
    "{2, 3, 5}, the distinct-shingle count, total occurrences, and "
    "the occurrence mass sitting in repeated shingles (dup_ppm). "
    "Small n over-matches (high dup mass = false near-dup "
    "candidates), large n under-matches — this curve is how the "
    "production n (usually 5-13 words) gets picked for a corpus "
    "WITHOUT running the full pair join at each candidate n. "
    "Shingles travel as md5 digests; one digest-keyed count per n.",
)
def shingle_size_sweep(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("w"))

    def prof(n: int) -> DataFrame:
        grams = F.transform(
            F.slice(F.col("w"), 1, F.size("w") - (n - 1)),
            lambda x, i: F.md5(
                F.concat_ws(" ", F.slice(F.col("w"), i + F.lit(1), n))
            ),
        )
        sh = toks.where(F.size("w") >= n).select(F.explode(grams).alias("g"))
        gc = sh.groupBy("g").agg(F.count(F.lit(1)).alias("c"))
        dup = F.when(F.col("c") >= 2, F.col("c")).otherwise(0)
        return gc.groupBy().agg(
            F.count(F.lit(1)).alias("n_distinct"),
            F.sum("c").cast("bigint").alias("n_occurrences"),
            F.sum(dup).cast("bigint").alias("n_dup_occurrences"),
            F.expr(
                "CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) * 1000000 "
                "div sum(c) AS BIGINT)"
            ).alias("dup_ppm"),
        ).select(
            F.lit(n).cast("int").alias("n"),
            "n_distinct",
            "n_occurrences",
            "n_dup_occurrences",
            "dup_ppm",
        )

    return prof(2).unionByName(prof(3)).unionByName(prof(5))


# ---------------------------------------------------------------------------
# folded from the round8 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# training-data pipeline: span-grain decontamination + quality classifier
# ---------------------------------------------------------------------------

_SPAN_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
           i -> struct_pack(pos := i, s := array_to_string(w[i:i+2], ' ')))) AS u
  FROM toks WHERE len(w) >= 3
), ex AS (
  SELECT doc_id, u.pos AS pos, u.s AS s FROM sh
), ev AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
), hits AS (
  SELECT e.doc_id, e.pos FROM ex e JOIN ev ON e.s = ev.s
  WHERE e.doc_id % 97 <> 0
), g AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(CASE WHEN prev IS NULL THEN 3
                     ELSE least(3, pos - prev) END) AS BIGINT)
         AS n_contam_tokens
FROM g GROUP BY doc_id
"""


@_register(
    "decontaminate_spans",
    _SPAN_ORACLE,
    doc="SPAN-grain test-set decontamination (the public-pipeline shape "
    "next to doc-grain decontaminate_ngram): every POSITION whose word "
    "n-gram appears in the held-out set (doc_id % 97 == 0; n=3 for "
    "test-corpus density, production 8-13) is a contaminated span, and "
    "the contaminated-TOKEN count is the union of the fixed-length "
    "span intervals — computed with one LAG window per doc (intervals "
    "are equal length, so each span adds min(n, pos - prev) new "
    "tokens), never an interval self-join. The eval shingle set "
    "broadcasts; the only shuffles are the hit join key and the "
    "per-doc window — the 100 TB shape of doc-grain decontamination "
    "with position fidelity added.",
)
def decontaminate_spans(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_ngram_windows

    docs = fan_out(load_table(spark, sf, "documents"))
    # r14: all-window trigrams WITH positions via posexplode of the
    # one-pass lookahead regex — array index i is the 0-based word
    # position of the window start, exactly the pos the interpreted
    # struct/filter/transform form computed ~20x slower (word_shingles
    # lesson; guide §1.2)
    sh = docs.select(
        "doc_id",
        F.posexplode(word_ngram_windows(F.col("text"), 3)).alias("pos", "s"),
    )
    ev = sh.where(F.col("doc_id") % 97 == 0).select("s").distinct()
    hits = (
        sh.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "s")
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    g = hits.withColumn("prev", F.lag("pos").over(w))
    contrib = F.when(F.col("prev").isNull(), F.lit(3)).otherwise(
        F.least(F.lit(3), F.col("pos") - F.col("prev"))
    )
    return g.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(contrib).alias("n_contam_tokens"),
    )


# Deterministic integer-weight quality classifier: every feature is an
# exact integer rate (ppm / milli), the score one integer linear form.
_QUALITY_EXPR_SQL = """
  SELECT doc_id, source,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_words,
         length(text) AS n_chars,
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> list_contains(['the','a','an','of','and','to','in','is',
                                 'it','that'], x))) AS n_stop,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS n_punct,
         length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit,
         length(regexp_replace(text, '\\s', '', 'g')) AS n_nospace
  FROM documents
"""

_QUALITY_SCORE_SQL = """
  SELECT doc_id, source,
         CASE WHEN n_words > 0 AND n_chars > 0 THEN
              2 * (n_stop * 1000000 // n_words)
            - 3 * (n_punct * 1000000 // n_chars)
            - 2 * (n_digit * 1000000 // n_chars)
            + 5000 * least(n_words, 64)
            - abs((n_nospace * 1000 // n_words) - 5000) * 100
         ELSE -1000000 END AS score
  FROM f
"""

_QUALITY_ORACLE = (
    "WITH f AS (" + _QUALITY_EXPR_SQL + "), s AS (" + _QUALITY_SCORE_SQL + """
)
SELECT doc_id, score,
       CASE WHEN score >= 600000 THEN 'high'
            WHEN score >= 300000 THEN 'mid'
            ELSE 'low' END AS label
FROM s
"""
)


def _quality_scored(docs: DataFrame) -> DataFrame:
    """(doc_id, source, score, label) — shared by the scorer face, the
    decile profile and the dup×quality matrix."""
    from cve_manager_spark.operators.text import _is_stopword, words

    t = F.col("text")
    n_words = F.size(words(t))
    n_chars = F.length(t)
    n_stop = F.size(F.filter(words(F.lower(t)), _is_stopword))
    n_punct = F.length(F.regexp_replace(t, r"[a-zA-Z0-9\s]", ""))
    n_digit = F.length(F.regexp_replace(t, r"[^0-9]", ""))
    n_nospace = F.length(F.regexp_replace(t, r"\s", ""))
    # materialize the integer features as columns, then one linear form
    f = docs.select(
        "doc_id",
        "source",
        n_words.cast("bigint").alias("n_words"),
        n_chars.cast("bigint").alias("n_chars"),
        n_stop.cast("bigint").alias("n_stop"),
        n_punct.cast("bigint").alias("n_punct"),
        n_digit.cast("bigint").alias("n_digit"),
        n_nospace.cast("bigint").alias("n_nospace"),
    )
    score = F.when(
        (F.col("n_words") > 0) & (F.col("n_chars") > 0),
        2 * F.expr("n_stop * 1000000 div n_words")
        - 3 * F.expr("n_punct * 1000000 div n_chars")
        - 2 * F.expr("n_digit * 1000000 div n_chars")
        + 5000 * F.least(F.col("n_words"), F.lit(64))
        - F.abs(F.expr("n_nospace * 1000 div n_words") - 5000) * 100,
    ).otherwise(F.lit(-1000000))
    s = f.select("doc_id", "source", score.cast("bigint").alias("score"))
    label = (
        F.when(F.col("score") >= 600000, "high")
        .when(F.col("score") >= 300000, "mid")
        .otherwise("low")
    )
    return s.withColumn("label", label)


@_register(
    "quality_classifier_score",
    _QUALITY_ORACLE,
    doc="Deterministic quality-classifier scorer (VERDICT r7 #2): an "
    "integer-weight linear model over exact token features — stopword "
    "ppm (fluency proxy, +), punctuation/digit ppm (boilerplate "
    "proxies, −), a capped length bonus, and a penalty for mean word "
    "length far from 5 chars — with fixed thresholds binning docs into "
    "high/mid/low. Every feature is an integer rate (ppm/milli via "
    "integer div), the score one integer linear form: bit-identical on "
    "any engine/partitioning, which is what makes a *classifier* "
    "auditable at 100 TB (the float-logit version never hashes). Pure "
    "narrow projection — no shuffle at all.",
)
def quality_classifier_score(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return _quality_scored(docs).select("doc_id", "score", "label")


_QUALITY_DECILE_ORACLE = (
    "WITH f AS (" + _QUALITY_EXPR_SQL + "), s AS (" + _QUALITY_SCORE_SQL + """
), d AS (
  SELECT doc_id, score, NTILE(10) OVER (ORDER BY score, doc_id) AS decile
  FROM s
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(score) AS min_score, MAX(score) AS max_score
FROM d GROUP BY decile
"""
)


@_register(
    "quality_score_deciles",
    _QUALITY_DECILE_ORACLE,
    doc="Decile profile of the quality score — the filtering dial a "
    "pipeline reads before choosing a keep threshold ('keep the top 7 "
    "deciles' = min_score of decile 4). The oracle states it as NTILE "
    "over (score, doc_id); the Spark plan computes the IDENTICAL "
    "output without ever globally sorting rows (a global NTILE window "
    "funnels every row through ONE task): the score HISTOGRAM "
    "(bounded by distinct scores) gets cumulative counts, the ten "
    "NTILE bucket boundaries are pure arithmetic on the total, and a "
    "broadcast range-intersection join of the 10-row decile relation "
    "with the histogram yields each decile's count and min/max score "
    "— the scalable form of an exact global order statistic.",
)
def quality_score_deciles(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    s = _quality_scored(docs)
    # score histogram + cumulative range [cum_lo, cum_hi] per score
    hist = s.groupBy("score").agg(F.count(F.lit(1)).alias("cnt"))
    wh = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, 0)
    hist = hist.withColumn("cum_hi", F.sum("cnt").over(wh)).withColumn(
        "cum_lo", F.col("cum_hi") - F.col("cnt") + 1
    )
    total = hist.groupBy().agg(F.sum("cnt").alias("n"))
    # NTILE bucket math: q = n div 10, r = n mod 10; bucket d (1-based)
    # holds q+1 rows for d <= r else q, starting at (d-1)q + min(d-1, r) + 1
    dec10 = (
        total.select(
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.lit(10).cast("bigint"))
            ).alias("decile"),
            "n",
        )
        .withColumn("q", F.expr("n div 10"))
        .withColumn("r", F.expr("n % 10"))
        .withColumn(
            "lo", F.expr("(decile - 1) * q + least(decile - 1, r) + 1")
        )
        .withColumn(
            "hi",
            F.expr("lo + q + (CASE WHEN decile <= r THEN 1 ELSE 0 END) - 1"),
        )
        .where(F.col("hi") >= F.col("lo"))
        .select("decile", "lo", "hi")
    )
    j = hist.join(
        F.broadcast(dec10),
        (F.col("cum_lo") <= F.col("hi")) & (F.col("cum_hi") >= F.col("lo")),
    )
    overlap = F.least(F.col("cum_hi"), F.col("hi")) - F.greatest(
        F.col("cum_lo"), F.col("lo")
    ) + 1
    return j.groupBy("decile").agg(
        F.sum(overlap).alias("n_docs"),
        F.min("score").alias("min_score"),
        F.max("score").alias("max_score"),
    )


_DUP_QUALITY_ORACLE = (
    "WITH f AS (" + _QUALITY_EXPR_SQL + "), s AS (" + _QUALITY_SCORE_SQL + """
), lab AS (
  SELECT doc_id,
         CASE WHEN score >= 600000 THEN 'high'
              WHEN score >= 300000 THEN 'mid'
              ELSE 'low' END AS label
  FROM s
), dup AS (
  SELECT doc_id,
         CASE WHEN doc_id > MIN(doc_id) OVER (PARTITION BY md5(text))
              THEN 1 ELSE 0 END AS is_dup,
         length(text) AS n_chars
  FROM documents
)
SELECT l.label, d.is_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(d.n_chars) AS BIGINT) AS n_chars
FROM lab l JOIN dup d ON l.doc_id = d.doc_id
GROUP BY l.label, d.is_dup
"""
)


@_register(
    "corpus_quality_dup_matrix",
    _DUP_QUALITY_ORACLE,
    doc="Joint dedup × quality audit: the 2×3 matrix of (exact-duplicate "
    "copy?, quality label) with doc and char volumes — the first table "
    "a pipeline owner reads to see WHERE the duplicate bytes live "
    "(duplicated boilerplate is overwhelmingly low-quality, so dedup "
    "and quality filtering overlap; this measures by how much). "
    "Duplicate copies flagged with the min-over-md5-digest window "
    "(dedup_savings_by_source recipe); the two sides join on doc_id.",
)
def corpus_quality_dup_matrix(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    lab = _quality_scored(docs).select("doc_id", "label")
    w = Window.partitionBy(F.md5(F.col("text")))
    dup = docs.select(
        "doc_id",
        F.when(F.col("doc_id") > F.min("doc_id").over(w), 1)
        .otherwise(0)
        .alias("is_dup"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return (
        lab.join(dup, "doc_id")
        .groupBy("label", "is_dup")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
        )
    )


# ---------------------------------------------------------------------------
# corpus linguistics III / behavioral / warehouse reporting
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT DISTINCT source, unnest(CASE WHEN len(w) >= 3
    THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
    ELSE [] END) AS s
  FROM toks
), spread AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n_sources FROM sh GROUP BY s
)
SELECT sh.source,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_unique,
       CAST(SUM(CASE WHEN spread.n_sources = 1 THEN 1 ELSE 0 END) * 1000000
         // COUNT(*) AS BIGINT) AS novelty_ppm
FROM sh JOIN spread ON sh.s = spread.s
GROUP BY sh.source
"""


@_register(
    "source_ngram_novelty",
    _NOVELTY_ORACLE,
    doc="Per-source 3-gram novelty: the share of a source's distinct "
    "shingles appearing in NO other source — the data-mixing signal "
    "for whether a source adds new text or re-serves the common crawl "
    "(novelty ≈ 0 ⇒ candidate for down-weighting in mix_budget). "
    "(source, shingle) pairs are distinct-reduced FIRST, the spread "
    "count shuffles on the shingle key (the shingle-join discipline), "
    "and the final rollup is per source. Integer ppm.",
)
def source_ngram_novelty(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_shingles

    docs = fan_out(load_table(spark, sf, "documents"))
    sh = docs.select(
        "source", F.explode(word_shingles(F.col("text"), 3)).alias("s")
    ).distinct()
    spread = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_sources"))
    uniq = F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
    return (
        sh.join(spread, "s")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            uniq.alias("n_unique"),
            F.expr(
                "sum(CASE WHEN n_sources = 1 THEN 1 ELSE 0 END) * 1000000"
                " div count(1)"
            ).alias("novelty_ppm"),
        )
    )


def _quality_sweep_oracle() -> str:
    return (
        "WITH f AS ("
        + _QUALITY_EXPR_SQL
        + "), s AS ("
        + _QUALITY_SCORE_SQL
        + """
), th AS (
  SELECT unnest([200000, 300000, 400000, 500000, 600000]) AS threshold
)
SELECT th.threshold, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pass,
       CAST(SUM(CASE WHEN s.score >= th.threshold THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS pass_ppm
FROM s CROSS JOIN th
GROUP BY th.threshold
"""
    )


@_register(
    "quality_threshold_sweep",
    _quality_sweep_oracle(),
    doc="The keep-threshold dial for the quality classifier, measured "
    "as a curve: doc pass counts and exact ppm at five candidate "
    "score thresholds, from one scoring pass (the 5-row threshold "
    "spine broadcasts into a conditional aggregate — never five "
    "scans). Read next to quality_score_deciles: the deciles say "
    "where the mass IS, this says what each proposed gate KEEPS.",
)
def quality_threshold_sweep(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    s = _quality_scored(docs).select("doc_id", "score")
    th = values_relation(
        spark,
        [(t,) for t in (200000, 300000, 400000, 500000, 600000)],
        "threshold int",
    )
    j = s.crossJoin(F.broadcast(th))
    passed = F.when(F.col("score") >= F.col("threshold"), 1).otherwise(0)
    return j.groupBy("threshold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(passed).cast("bigint").alias("n_pass"),
        F.expr(
            "CAST(sum(CASE WHEN score >= threshold THEN 1 ELSE 0 END) "
            "* 1000000 div count(1) AS BIGINT)"
        ).alias("pass_ppm"),
    )


_MODALITY_AGREEMENT_ORACLE = """
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
), sig AS (
  SELECT id, shingles,
         list_transform(range(0, 32), s ->
           list_min(list_transform(shingles, x -> md5(CAST(s AS VARCHAR) || ':' || x)))) AS sigs
  FROM ne
), keys AS (
  SELECT id, b, sigs[b*2+1] || '|' || sigs[b*2+2] AS bkey
  FROM (SELECT id, sigs, unnest(range(0, 16)) AS b FROM sig)
), cand AS (
  SELECT DISTINCT a.id AS id_old, b.id AS id_new
  FROM keys a JOIN keys b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
), mh AS (
  SELECT DISTINCT c.id_new AS id
  FROM cand c JOIN ne sa ON sa.id = c.id_old JOIN ne sb ON sb.id = c.id_new
  WHERE len(list_intersect(sa.shingles, sb.shingles)) * 2
        >= len(sa.shingles) + len(sb.shingles)
          - len(list_intersect(sa.shingles, sb.shingles))
), dg AS (
  SELECT doc_id, md5(text) AS g FROM documents
), gm AS (
  SELECT g, MIN(doc_id) AS keep_id FROM dg GROUP BY g
), exd AS (
  SELECT dg.doc_id AS id FROM dg JOIN gm ON dg.g = gm.g
  WHERE dg.doc_id > gm.keep_id
)
SELECT exd.id IS NOT NULL AS exact_dup,
       mh.id IS NOT NULL AS minhash_dup,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents d
LEFT JOIN exd ON d.doc_id = exd.id
LEFT JOIN mh ON d.doc_id = mh.id
GROUP BY 1, 2
"""


@_register(
    "dedup_modality_agreement",
    _MODALITY_AGREEMENT_ORACLE,
    doc="Calibration audit ACROSS dedup modalities: every document "
    "flagged by the exact gate (a lower-id doc with the same md5 "
    "digest) and by the MinHash gate (a lower-id verified J >= 0.5 "
    "band-mate, dedup_minhash_det's 16x2 pipeline), cross-tabbed as a "
    "2x2 matrix. The cells are the modality-design report: "
    "(true, false) is exact dups the LSH missed — in a calibrated "
    "setup only zero-shingle docs land there, since identical text "
    "yields identical signatures; (false, true) is the near-dup mass "
    "only MinHash sees — the value the fuzzier modality adds over "
    "hashing; and the diagonal sizes how much the gates overlap, "
    "which prices running one pipeline instead of two. Cost: the "
    "digest test is a 16-byte-digest groupBy + join-back (never a "
    "self-join of text), MinHash is the banded directional join, and "
    "the cross-tab is a 4-key aggregate.",
)
def dedup_modality_agreement(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import (
        minhash_dominated,
        minhash_encode,
    )

    docs = load_table(spark, sf, "documents")
    dg = docs.select("doc_id", F.md5("text").alias("g"))
    gm = dg.groupBy("g").agg(F.min("doc_id").alias("keep_id"))
    exd = (
        dg.join(gm, "g")
        .where(F.col("doc_id") > F.col("keep_id"))
        .select(F.col("doc_id").alias("id"))
        .withColumn("__e", F.lit(1))
    )
    sh, keys = minhash_encode(docs)
    mh = minhash_dominated(keys, sh, keys, sh).withColumn("__m", F.lit(1))
    j = (
        docs.select(F.col("doc_id").alias("id"))
        .join(exd, "id", "left")
        .join(mh, "id", "left")
    )
    return j.groupBy(
        F.col("__e").isNotNull().alias("exact_dup"),
        F.col("__m").isNotNull().alias("minhash_dup"),
    ).agg(F.count(F.lit(1)).alias("n_docs"))


# ---------------------------------------------------------------------------
# folded from the round6 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# 1. corpus linguistics
# ---------------------------------------------------------------------------

_WORD_LEN_ORACLE = """
WITH t AS (
  SELECT source,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w
  FROM documents
), p AS (
  SELECT source,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0) AS BIGINT) AS sum_len,
         CAST(COALESCE(list_max(list_transform(w, x -> length(x))), 0) AS BIGINT) AS max_len
  FROM t
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(MAX(max_len) AS BIGINT) AS max_word_len,
       CAST(SUM(sum_len) AS DOUBLE) / SUM(n_words) AS avg_word_len
FROM p GROUP BY source
"""


@_register(
    "text_word_len_profile",
    _WORD_LEN_ORACLE,
    doc="Per-source word-length morphology: token counts, the longest "
    "token, and exact average word length (bigint length sums divided "
    "once). One narrow tokenize pass + one hash aggregate on source — "
    "the length profile that flags machine-generated or concatenated "
    "text before any model sees it.",
)
def text_word_len_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    from cve_manager_spark.operators.text import words

    lens = F.transform(words(F.col("text")), lambda x: F.length(x))
    p = docs.select(
        "source",
        F.size(lens).cast("long").alias("n_words"),
        F.aggregate(lens, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_len"),
        F.coalesce(F.array_max(lens), F.lit(0)).cast("long").alias("max_len"),
    )
    return p.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_words").alias("n_words"),
        F.max("max_len").alias("max_word_len"),
        (F.sum("sum_len").cast("double") / F.sum("n_words")).alias("avg_word_len"),
    )


_DIGIT_ORACLE = """
SELECT lang,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       CAST(SUM(length(regexp_replace(text, '[^0-9]', '', 'g'))) AS BIGINT)
         AS n_digits,
       CAST(SUM(length(regexp_replace(text, '[^0-9]', '', 'g'))) * 1000000
            // SUM(length(text)) AS BIGINT) AS digit_ppm
FROM documents GROUP BY lang
"""


@_register(
    "text_digit_density",
    _DIGIT_ORACLE,
    doc="Digit-character density per language in exact integer ppm — "
    "the cheap detector for tables/logs/serial dumps masquerading as "
    "prose. Single scan, one aggregate; the regex strip runs JVM-side.",
)
def text_digit_density(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    digits = F.length(F.regexp_replace(F.col("text"), "[^0-9]", "")).cast("long")
    chars = F.length("text").cast("long")
    return (
        docs.select("lang", chars.alias("c"), digits.alias("d"))
        .groupBy("lang")
        .agg(
            F.sum("c").alias("n_chars"),
            F.sum("d").alias("n_digits"),
            F.expr("sum(d) * 1000000 div sum(c)").alias("digit_ppm"),
        )
    )


_ENTROPY_ORACLE = """
WITH tok AS (
  SELECT lang,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
           AS word
  FROM documents
), cnt AS (
  SELECT lang, word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, word
), tot AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n_types
  FROM cnt GROUP BY lang
)
SELECT cnt.lang,
       CAST(MAX(tot.t) AS BIGINT) AS n_tokens,
       CAST(MAX(tot.n_types) AS BIGINT) AS n_types,
       CAST(SUM(CAST(ROUND(
         -(CAST(c AS DOUBLE) / CAST(t AS DOUBLE))
           * ln(CAST(c AS DOUBLE) / CAST(t AS DOUBLE)), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS entropy
FROM cnt JOIN tot ON cnt.lang = tot.lang
GROUP BY cnt.lang
"""


@_register(
    "unigram_entropy_by_lang",
    _ENTROPY_ORACLE,
    doc="Shannon entropy of the unigram distribution per language — the "
    "diversity statistic that separates natural prose from template "
    "spam. Each -p·ln(p) term is rounded to 6dp and summed as exact "
    "DECIMAL (the text_tfidf transcendental precedent), so the result "
    "is order-independent; token counts and the totals join carry "
    "exact integers. Two hash aggregates + one broadcast-able join on "
    "lang.",
)
def unigram_entropy_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    tok = docs.select(
        "lang", F.explode(words(F.lower(F.col("text")))).alias("word")
    )
    cnt = tok.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("c"))
    tot = cnt.groupBy("lang").agg(
        F.sum("c").alias("t"), F.count(F.lit(1)).alias("n_types")
    )
    p = F.col("c").cast("double") / F.col("t").cast("double")
    term = F.round(-p * F.log(p), 6).cast("decimal(18,6)")
    return (
        cnt.join(F.broadcast(tot), "lang")
        .groupBy("lang")
        .agg(
            F.max("t").alias("n_tokens"),
            F.max("n_types").alias("n_types"),
            F.sum(term).cast("double").alias("entropy"),
        )
    )


_DUPLEN_ORACLE = """
WITH g AS (
  SELECT text, CAST(COUNT(*) AS BIGINT) AS n_dups,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         CAST(MIN(doc_id) AS BIGINT) AS keep_id
  FROM documents GROUP BY text HAVING COUNT(*) >= 2
)
SELECT n_dups,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sum_chars) AS BIGINT) AS total_chars,
       CAST(MIN(keep_id) AS BIGINT) AS first_keep_id
FROM g GROUP BY n_dups
"""


@_register(
    "dup_cluster_length_stats",
    _DUPLEN_ORACLE,
    doc="Morphology of exact-duplicate clusters: for each cluster SIZE, "
    "how many clusters exist and how many characters they pin — the "
    "report that says whether dedup savings come from a few giant "
    "boilerplate clusters or a long tail of pairs. Two chained hash "
    "aggregates (text digest grain, then size grain), all integers — "
    "the length-weighted companion to dup_cluster_size_hist.",
)
def dup_cluster_length_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    g = (
        docs.groupBy("text")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("keep_id"),
        )
        .where(F.col("n_dups") >= 2)
    )
    return g.groupBy("n_dups").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sum_chars").alias("total_chars"),
        F.min("keep_id").alias("first_keep_id"),
    )


_VOCAB_OVERLAP_ORACLE = """
WITH d AS (
  SELECT DISTINCT source,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
           AS word
  FROM documents
), sz AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY source
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS common
  FROM d a JOIN d b ON a.word = b.word AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, common,
       CAST(common * 1000000 // (sa.n + sb.n - common) AS BIGINT)
         AS jaccard_ppm
FROM pairs
JOIN sz sa ON sa.source = source_a
JOIN sz sb ON sb.source = source_b
"""


@_register(
    "source_vocab_overlap",
    _VOCAB_OVERLAP_ORACLE,
    doc="Pairwise vocabulary Jaccard between sources in exact integer "
    "ppm — the corpus-mixing diagnostic (two crawls sharing 90% of "
    "their vocabulary add less diversity than their row counts "
    "suggest). The (source, word) relation is distinct-deduped ONCE, "
    "then the pair join is word-bucketed exactly like the shingle "
    "dedup joins (never all-pairs over documents); vocabulary sizes "
    "join back as a broadcast.",
)
def source_vocab_overlap(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source", F.explode(words(F.lower(F.col("text")))).alias("word")
    ).distinct()
    sz = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("source").alias("source_a"), "word")
    b = d.select(F.col("source").alias("source_b"), "word")
    pairs = (
        a.join(b, ["word"])
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    return (
        pairs.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "common",
            F.expr("common * 1000000 div (na + nb - common)").alias("jaccard_ppm"),
        )
    )


_PREFIX_ORACLE = """
SELECT md5(substring(text, 1, 40)) AS prefix_md5,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc_id,
       CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts
FROM documents
GROUP BY md5(substring(text, 1, 40))
HAVING COUNT(*) >= 2
"""


@_register(
    "doc_prefix_collision",
    _PREFIX_ORACLE,
    doc="Shared-prefix detector: documents opening with the same 40 "
    "characters (boilerplate headers, templated intros) grouped by "
    "prefix digest, with how many distinct full texts hide behind each "
    "— prefix-equal but text-distinct groups are the near-dup seeds "
    "exact dedup misses. One aggregate on a 16-byte digest key (the "
    "prefix itself never shuffles).",
)
def doc_prefix_collision(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy(F.md5(F.substring("text", 1, 40)).alias("prefix_md5"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc_id"),
            F.countDistinct("text").alias("n_distinct_texts"),
        )
        .where(F.col("n_docs") >= 2)
    )


_CPW_ORACLE = """
WITH p AS (
  SELECT n_chars,
         CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
              AS BIGINT) AS n_words
  FROM documents
)
SELECT LEAST(CAST(n_chars AS BIGINT) // n_words, 12) AS cpw_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM p WHERE n_words > 0 GROUP BY 1
"""


@_register(
    "chars_per_word_hist",
    _CPW_ORACLE,
    doc="Histogram of documents by integer chars-per-word band (capped "
    "at 12+): the compactness profile that flags CJK-like scripts, "
    "URL dumps and minified blobs in one readout. Integer division "
    "keeps banding exact; one scan, one small aggregate.",
)
def chars_per_word_hist(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    p = docs.select(
        "n_chars", F.size(words(F.col("text"))).cast("long").alias("n_words")
    ).where(F.col("n_words") > 0)
    band = F.least(F.expr("n_chars div n_words").cast("long"), F.lit(12).cast("long"))
    return p.groupBy(band.alias("cpw_band")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


# ---------------------------------------------------------------------------
# folded from the round7 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# corpus linguistics II
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
WITH cnt AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
           AS word
  FROM documents
), c AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM cnt GROUP BY source, word
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       ROUND(CAST(SUM(CAST(c AS DECIMAL(38,0)) * (c - 1)) AS DOUBLE)
             / (CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1)), 9) AS simpson
FROM c GROUP BY source
"""


@_register(
    "text_simpson_diversity",
    _SIMPSON_ORACLE,
    doc="Simpson concentration index of the unigram distribution per "
    "source — the no-transcendental twin of unigram_entropy_by_lang: "
    "λ = Σ c(c−1) / (T(T−1)) is a ratio of exact integers (numerator "
    "summed in DECIMAL(38,0) — c² overflows bigint at corpus scale), "
    "so the only double is one identical final division, rounded 9dp. "
    "High λ = template/boilerplate-dominated source.",
)
def text_simpson_diversity(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    c = (
        docs.select("source", F.explode(words(F.lower(F.col("text")))).alias("word"))
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    t = F.sum("c")
    num = F.sum(F.col("c").cast("decimal(38,0)") * (F.col("c") - 1)).cast("double")
    return c.groupBy("source").agg(
        t.alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.round(num / (t.cast("double") * (t - F.lit(1))), 9).alias("simpson"),
    )


_SRC_LANG_ORACLE = """
WITH m AS (
  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
  FROM documents GROUP BY source, lang
), st AS (
  SELECT source, CAST(SUM(n) AS BIGINT) AS src_total FROM m GROUP BY source
)
SELECT m.source, m.lang, m.n,
       CAST(m.n * 1000000 // st.src_total AS BIGINT) AS share_ppm
FROM m JOIN st ON m.source = st.source
"""


@_register(
    "source_lang_matrix",
    _SRC_LANG_ORACLE,
    doc="Source × language composition matrix with exact integer ppm "
    "row shares — the mixing table a corpus curator reads before "
    "setting per-source language filters. Two chained aggregates; the "
    "source totals join back as a broadcast.",
)
def source_lang_matrix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    m = docs.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    st = m.groupBy("source").agg(F.sum("n").alias("src_total"))
    return (
        m.join(F.broadcast(st), "source")
        .select(
            "source", "lang", "n",
            F.expr("n * 1000000 div src_total").alias("share_ppm"),
        )
    )


_PUNCT_ORACLE = """
SELECT source,
       CAST(SUM(length(text)) AS BIGINT) AS n_chars,
       CAST(SUM(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')))
            AS BIGINT) AS n_punct,
       CAST(SUM(length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g'))) * 1000000
            // SUM(length(text)) AS BIGINT) AS punct_ppm
FROM documents GROUP BY source
"""


@_register(
    "text_punct_density",
    _PUNCT_ORACLE,
    doc="Punctuation/symbol density per source in exact integer ppm "
    "(everything outside [A-Za-z0-9 whitespace]) — flags markup dumps "
    "and code masquerading as prose; complements text_digit_density. "
    "One scan, JVM-side regex strip, tiny aggregate.",
)
def text_punct_density(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    punct = F.length(F.regexp_replace(F.col("text"), r"[A-Za-z0-9\s]", "")).cast("long")
    return (
        docs.select("source", F.length("text").cast("long").alias("c"), punct.alias("p"))
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_chars"),
            F.sum("p").alias("n_punct"),
            F.expr("sum(p) * 1000000 div sum(c)").alias("punct_ppm"),
        )
    )


_LONGEST_ORACLE = """
WITH r AS (
  SELECT lang, doc_id, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM documents
)
SELECT lang, CAST(doc_id AS BIGINT) AS doc_id, CAST(n_chars AS BIGINT) AS n_chars
FROM r WHERE rk = 1
"""


@_register(
    "longest_doc_per_lang",
    _LONGEST_ORACLE,
    doc="Argmax per group with a deterministic tie-break: the longest "
    "document per language (ties to the smaller doc_id) — max_by's "
    "arbitrary-tie hazard avoided via the rank-1 window, the same "
    "contract as embedding_component_extremes.",
)
def longest_doc_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("lang", "doc_id", "n_chars")
    )


_WLEN_ORACLE = """
WITH w AS (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
           AS word
  FROM documents
)
SELECT LEAST(CAST(length(word) AS BIGINT), 24) AS word_len,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(DISTINCT word) AS BIGINT) AS n_types
FROM w GROUP BY 1
"""


@_register(
    "word_len_hist",
    _WLEN_ORACLE,
    doc="Corpus-wide word-length histogram (capped at 24+) with per-band "
    "type counts — the tokenizer-design input (band mass decides "
    "character-coverage vs merge budget). Explode → one bounded-key "
    "aggregate with a distinct count.",
)
def word_len_hist(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    w = docs.select(F.explode(words(F.lower(F.col("text")))).alias("word"))
    band = F.least(F.length("word").cast("long"), F.lit(24).cast("long"))
    return w.groupBy(band.alias("word_len")).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("word").alias("n_types"),
    )


_SAVINGS_ORACLE = """
WITH k AS (
  SELECT source, n_chars,
         CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
              THEN 0 ELSE 1 END AS is_dup
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS dup_chars,
       CAST(SUM(CASE WHEN is_dup = 1 THEN n_chars ELSE 0 END) * 1000000
            // SUM(n_chars) AS BIGINT) AS savings_ppm
FROM k GROUP BY source
"""


@_register(
    "dedup_savings_by_source",
    _SAVINGS_ORACLE,
    doc="Exact-dedup economics per source: how many documents and "
    "characters the min-id keep rule would drop — the report that "
    "prices a dedup pass before running it. The keeper id comes from a "
    "digest-grain AGGREGATE joined back on the 16-byte md5 (the text "
    "itself never keys an exchange, and both join sides share the "
    "digest partitioning) — the oracle's window form is semantically "
    "identical, but a window would buffer each duplicate CLUSTER in "
    "one task, and cluster sizes are exactly what this report exists "
    "to distrust. Savings are exact integer ppm.",
)
def dedup_savings_by_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").withColumn("__d", F.md5("text"))
    keep = docs.groupBy("__d").agg(F.min("doc_id").alias("__keep"))
    is_dup = F.when(F.col("doc_id") == F.col("__keep"), 0).otherwise(1)
    k = docs.join(keep, "__d").select("source", "n_chars", is_dup.alias("is_dup"))
    return k.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("is_dup").alias("n_dup_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(F.when(F.col("is_dup") == 1, F.col("n_chars")).otherwise(0)).alias(
            "dup_chars"
        ),
        F.expr(
            "sum(case when is_dup = 1 then n_chars else 0 end) * 1000000"
            " div sum(n_chars)"
        ).alias("savings_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round8b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# quality-classifier composition faces
# ---------------------------------------------------------------------------


def _quality_cte() -> str:
    from cve_manager_spark.plans.corpus import _QUALITY_EXPR_SQL, _QUALITY_SCORE_SQL

    return (
        "WITH f AS ("
        + _QUALITY_EXPR_SQL
        + "), s AS ("
        + _QUALITY_SCORE_SQL
        + """
), lab AS (
  SELECT doc_id, source, score,
         CASE WHEN score >= 600000 THEN 'high'
              WHEN score >= 300000 THEN 'mid'
              ELSE 'low' END AS label
  FROM s
)"""
    )


_QUALITY_SOURCE_ORACLE = _quality_cte() + """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN label = 'high' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_high,
       CAST(SUM(CASE WHEN label = 'mid' THEN 1 ELSE 0 END) AS BIGINT) AS n_mid,
       CAST(SUM(CASE WHEN label = 'low' THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score
FROM lab GROUP BY source
"""


@_register(
    "quality_by_source_profile",
    _QUALITY_SOURCE_ORACLE,
    doc="Per-source quality profile: label mix and integer mean score — "
    "the table that decides which crawl sources feed the high-quality "
    "mix and which get the aggressive filter. One source-keyed "
    "aggregate over the shuffle-free scorer projection; mean is an "
    "exact BIGINT sum divided once (integer div both engines).",
)
def quality_by_source_profile(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _quality_scored

    docs = fan_out(load_table(spark, sf, "documents"))
    s = _quality_scored(docs)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("label") == "high", 1).otherwise(0))
        .cast("bigint")
        .alias("n_high"),
        F.sum(F.when(F.col("label") == "mid", 1).otherwise(0))
        .cast("bigint")
        .alias("n_mid"),
        F.sum(F.when(F.col("label") == "low", 1).otherwise(0))
        .cast("bigint")
        .alias("n_low"),
        F.expr("sum(score) div count(1)").alias("mean_score"),
    )


_QUALITY_LEN_ORACLE = _quality_cte() + """
, b AS (
  SELECT l.score, least(d.n_chars // 256, 7) AS len_band
  FROM lab l JOIN documents d ON l.doc_id = d.doc_id
)
SELECT len_band,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(score) AS min_score,
       MAX(score) AS max_score,
       CAST(SUM(score) // COUNT(*) AS BIGINT) AS mean_score
FROM b GROUP BY len_band
"""


@_register(
    "quality_length_calibration",
    _QUALITY_LEN_ORACLE,
    doc="Quality-score calibration against document length: 256-char "
    "bands (capped at band 7) with count and min/mean/max score — the "
    "audit that catches a scorer degenerating into a length detector "
    "(a known failure of integer linear quality models). Uses the "
    "table's n_chars column so both engines band identical integers.",
)
def quality_length_calibration(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _quality_scored

    docs = fan_out(load_table(spark, sf, "documents"))
    s = _quality_scored(docs).select("doc_id", "score")
    d = load_table(spark, sf, "documents").select(
        "doc_id", F.least(F.expr("n_chars div 256"), F.lit(7).cast("bigint")).alias("len_band")
    )
    return (
        s.join(d, "doc_id")
        .groupBy("len_band")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("min_score"),
            F.max("score").alias("max_score"),
            F.expr("sum(score) div count(1)").alias("mean_score"),
        )
    )


_DECONTAM_SUMMARY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
           i -> struct_pack(pos := i, s := array_to_string(w[i:i+2], ' ')))) AS u
  FROM toks WHERE len(w) >= 3
), ex AS (
  SELECT doc_id, u.pos AS pos, u.s AS s FROM sh
), ev AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
), hits AS (
  SELECT e.doc_id, e.pos FROM ex e JOIN ev ON e.s = ev.s
  WHERE e.doc_id % 97 <> 0
), g AS (
  SELECT doc_id, pos,
         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
  FROM hits
), per_doc AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN prev IS NULL THEN 3
                       ELSE least(3, pos - prev) END) AS BIGINT) AS contam
  FROM g GROUP BY doc_id
), base AS (
  SELECT t.source, len(t.w) AS n_tokens,
         COALESCE(p.contam, 0) AS contam,
         CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
  FROM toks t LEFT JOIN per_doc p ON t.doc_id = p.doc_id
  WHERE t.doc_id % 97 <> 0
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(hit) AS BIGINT) AS n_docs_contam,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(contam) AS BIGINT) AS n_contam_tokens,
       CAST(SUM(contam) * 1000000 // greatest(SUM(n_tokens), 1) AS BIGINT)
         AS contam_ppm
FROM base GROUP BY source
"""


@_register(
    "decontam_source_summary",
    _DECONTAM_SUMMARY_ORACLE,
    doc="Per-source contamination rollup over the span-grain "
    "decontamination: affected docs, contaminated tokens and their ppm "
    "of the source's token volume — the report a pipeline owner reads "
    "to decide whether a source needs span-surgery or can be dropped "
    "wholesale. Reuses the decontaminate_spans per-doc relation "
    "LEFT-joined back onto all non-eval docs (zero-hit docs count in "
    "the denominator).",
)
def decontam_source_summary(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words
    from cve_manager_spark.plans.corpus import decontaminate_spans

    spans = decontaminate_spans(spark, sf).select("doc_id", "n_contam_tokens")
    docs = fan_out(load_table(spark, sf, "documents"))
    base = (
        docs.where(F.col("doc_id") % 97 != 0)
        .select(
            "doc_id",
            "source",
            F.size(words(F.lower(F.col("text")))).cast("bigint").alias("n_tokens"),
        )
        .join(spans, "doc_id", "left")
        .select(
            "source",
            "n_tokens",
            F.coalesce("n_contam_tokens", F.lit(0)).alias("contam"),
            F.when(F.col("n_contam_tokens").isNotNull(), 1).otherwise(0).alias("hit"),
        )
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("hit").cast("bigint").alias("n_docs_contam"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("contam").alias("n_contam_tokens"),
        F.expr("sum(contam) * 1000000 div greatest(sum(n_tokens), 1)").alias(
            "contam_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# corpus statistics
# ---------------------------------------------------------------------------

_SENTENCE_ORACLE = """
WITH s AS (
  SELECT source,
         length(regexp_replace(text, '[^.!?]', '', 'g')) AS n_marks,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_words
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_marks) AS BIGINT) AS n_marks,
       CAST(SUM(n_words) AS BIGINT) AS n_words,
       CAST(SUM(n_words) * 1000 // greatest(SUM(n_marks), 1) AS BIGINT)
         AS words_per_sentence_milli
FROM s GROUP BY source
"""


@_register(
    "doc_sentence_stats",
    _SENTENCE_ORACLE,
    doc="Sentence-length proxy per source: terminal punctuation marks "
    "(.!?) as sentence delimiters, words-per-sentence in exact integer "
    "milli — long run-on text and list-like boilerplate separate "
    "cleanly on this axis. Pure projection + one source-keyed "
    "aggregate.",
)
def doc_sentence_stats(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    s = docs.select(
        "source",
        F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")).alias("n_marks"),
        F.size(words(F.col("text"))).alias("n_words"),
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_marks").cast("bigint").alias("n_marks"),
        F.sum("n_words").cast("bigint").alias("n_words"),
        F.expr("sum(n_words) * 1000 div greatest(sum(n_marks), 1)").alias(
            "words_per_sentence_milli"
        ),
    )


def _df_bucket_case(col: str) -> str:
    """Power-of-two doc-frequency bucket, identical SQL on both engines
    (no float log2 — its rounding at exact powers is engine-dependent)."""
    return (
        f"CASE WHEN {col} = 1 THEN 0"
        f" WHEN {col} < 4 THEN 1"
        f" WHEN {col} < 8 THEN 2"
        f" WHEN {col} < 16 THEN 3"
        f" WHEN {col} < 32 THEN 4"
        f" WHEN {col} < 64 THEN 5"
        f" WHEN {col} < 128 THEN 6"
        f" ELSE 7 END"
    )


_ZIPF_ORACLE = f"""
WITH dw AS (
  SELECT DISTINCT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS w
  FROM documents
), df AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM dw GROUP BY w
)
SELECT CAST({_df_bucket_case("df")} AS INTEGER) AS df_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(df) AS BIGINT) AS n_doc_pairs
FROM df GROUP BY 1
"""


@_register(
    "word_df_zipf_buckets",
    _ZIPF_ORACLE,
    doc="Vocabulary doc-frequency spectrum in power-of-two buckets — the "
    "Zipf audit (hapax mass vs head mass) that sizes stopword lists "
    "and min-df cuts. Bucketing is an explicit CASE ladder, NOT "
    "float log2 (whose rounding at exact powers differs per engine); "
    "the (doc, word) relation distinct-reduces before the word-keyed "
    "count.",
)
def word_df_zipf_buckets(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    dw = docs.select(
        "doc_id", F.explode(words(F.lower(F.col("text")))).alias("w")
    ).distinct()
    df = dw.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return df.groupBy(
        F.expr(_df_bucket_case("df")).cast("int").alias("df_bucket")
    ).agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("df").cast("bigint").alias("n_doc_pairs"),
    )


_TOKEN_BUDGET_ORACLE = """
WITH t AS (
  SELECT source,
         CAST(SUM(len(list_filter(string_split_regex(text, '\\s+'),
                                  x -> x <> ''))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), r AS (
  SELECT source, n_tokens,
         ROW_NUMBER() OVER (ORDER BY n_tokens DESC, source) AS rnk,
         SUM(n_tokens) OVER (ORDER BY n_tokens DESC, source
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens,
         SUM(n_tokens) OVER () AS total
  FROM t
)
SELECT source, n_tokens, CAST(rnk AS BIGINT) AS rnk,
       CAST(cum_tokens AS BIGINT) AS cum_tokens,
       CAST(cum_tokens * 1000000 // total AS BIGINT) AS cum_share_ppm
FROM r
"""


@_register(
    "token_budget_by_source",
    _TOKEN_BUDGET_ORACLE,
    doc="Token budget ledger: sources ranked by whitespace-token volume "
    "with cumulative share — 'the top k sources hold X% of the corpus' "
    "is the first line of any mix plan. The global window runs on the "
    "per-source AGGREGATE (≤ #sources rows), never row-grain data.",
)
def token_budget_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    t = docs.groupBy("source").agg(
        F.sum(F.size(words(F.col("text")))).cast("bigint").alias("n_tokens")
    )
    wo = Window.orderBy(F.col("n_tokens").desc(), "source")
    wc = wo.rowsBetween(Window.unboundedPreceding, 0)
    wt = Window.partitionBy()
    r = t.select(
        "source",
        "n_tokens",
        F.row_number().over(wo).cast("bigint").alias("rnk"),
        F.sum("n_tokens").over(wc).cast("bigint").alias("cum_tokens"),
        F.sum("n_tokens").over(wt).alias("total"),
    )
    return r.select(
        "source",
        "n_tokens",
        "rnk",
        "cum_tokens",
        F.expr("cum_tokens * 1000000 div total").alias("cum_share_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round8c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# In-row Gopher repetition features — shared SQL fragments
# ---------------------------------------------------------------------------

# Per-document features computed entirely in-row (array HOFs over the
# token list): no (doc, word) shuffle anywhere — at 100 TB these are
# pure map-side compute. The top-word counter is O(distinct * n) per
# document, bounded by document length, never by corpus size.
_TOKS_CTE = """
WITH toks AS (
  SELECT doc_id, lang, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), f AS (
  SELECT doc_id, lang, source,
         len(w) AS n,
         len(list_distinct(w)) AS nd,
         list_max(list_transform(list_distinct(w),
                                 x -> len(list_filter(w, y -> y = x)))) AS topc,
         list_sum(list_transform(w, x -> len(x))) AS chars
  FROM toks WHERE len(w) > 0
)
"""


def _doc_features(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.split(F.lower(F.col("text")), r"\s+")
    w = F.filter(w, lambda x: x != F.lit(""))
    return (
        docs.select("doc_id", "lang", "source", w.alias("w"))
        .where(F.size("w") > 0)
        .select(
            "doc_id",
            "lang",
            "source",
            F.size("w").cast("bigint").alias("n"),
            F.size(F.array_distinct("w")).cast("bigint").alias("nd"),
            F.array_max(
                F.transform(
                    F.array_distinct("w"),
                    lambda x: F.size(F.filter(F.col("w"), lambda y: y == x)),
                )
            )
            .cast("bigint")
            .alias("topc"),
            F.aggregate(
                "w", F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
            ).alias("chars"),
        )
    )


_TOPMASS_BAND_CASE = (
    "CASE WHEN ppm < 70000 THEN 0 WHEN ppm < 90000 THEN 1"
    " WHEN ppm < 110000 THEN 2 WHEN ppm < 150000 THEN 3"
    " WHEN ppm < 220000 THEN 4 ELSE 5 END"
)

_TOPMASS_ORACLE = _TOKS_CTE + f"""
, p AS (SELECT lang, topc * 1000000 // n AS ppm FROM f)
SELECT lang, CAST({_TOPMASS_BAND_CASE} AS INTEGER) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM p GROUP BY lang, 2
"""


@_register(
    "top_word_mass_bands",
    _TOPMASS_ORACLE,
    doc="Gopher-style repetition rule #1, banded: the mass of each "
    "document's single most frequent word (ppm of its tokens), "
    "histogrammed per language. The top-word count is an in-row array "
    "HOF (max over distinct tokens of their in-doc frequency) — "
    "O(distinct x n) per document, zero doc-grain shuffle; band "
    "thresholds are documented integer constants calibrated on the "
    "sf0.01 corpus (q1 79k / med 93k / q3 111k ppm).",
)
def top_word_mass_bands(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_features(spark, sf).select(
        "lang", F.expr("topc * 1000000 div n").alias("ppm")
    )
    return f.groupBy(
        "lang", F.expr(_TOPMASS_BAND_CASE).cast("int").alias("band")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


_BIGRAM_SQL_DUCK = (
    "CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),"
    " i -> array_to_string(w[i:i+1], ' ')) ELSE [] END"
)

_DUP_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT source,
         CASE WHEN len(w) >= 2 THEN list_transform(range(1, len(w)),
              i -> array_to_string(w[i:i+1], ' ')) ELSE [] END AS b
  FROM toks
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(b)) AS BIGINT) AS n_bigrams,
       CAST(SUM(len(b) - len(list_distinct(b))) * 1000000
            // GREATEST(SUM(len(b)), 1) AS BIGINT) AS dup_mass_ppm
FROM bg GROUP BY source
"""


@_register(
    "dup_bigram_mass_by_source",
    _DUP_BIGRAM_ORACLE,
    doc="Gopher-style repetition rule #2: duplicate-bigram mass — the "
    "fraction of adjacent-token bigram INSTANCES that are repeats of "
    "an earlier bigram in the same document — aggregated per source. "
    "Bigrams are built in-row (zip_with over two shifted slices) and "
    "deduplicated in-row (array_distinct); the only shuffle is the "
    "final source-keyed aggregate.",
)
def dup_bigram_mass_by_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    b = F.expr(
        "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
        " slice(w, 2, greatest(size(w) - 1, 0)),"
        " (a, b) -> concat(a, ' ', b))"
    )
    d = docs.select("source", w.alias("w")).select("source", b.alias("b"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("b")).cast("bigint").alias("n_bigrams"),
        F.expr(
            "sum(size(b) - size(array_distinct(b))) * 1000000"
            " div greatest(sum(size(b)), 1)"
        ).alias("dup_mass_ppm"),
    )


# Flag thresholds: documented integer constants, calibrated so each
# rule fires on a real minority of this corpus (top-heavy > 150k ppm ~
# top decile; low TTR < 380 milli ~ bottom decile; word-length window
# [4000, 5000] milli straddles the 3708-5300 observed range; short =
# under 20 tokens against a 10-99 range).
_FLAGS_SQL = """
  SELECT source,
         CASE WHEN topc * 1000000 // n > 150000 THEN 1 ELSE 0 END AS top_heavy,
         CASE WHEN nd * 1000 // n < 380 THEN 1 ELSE 0 END AS low_ttr,
         CASE WHEN chars * 1000 // n < 4000 OR chars * 1000 // n > 5000
              THEN 1 ELSE 0 END AS wlen_out,
         CASE WHEN n < 20 THEN 1 ELSE 0 END AS short_doc
  FROM f
"""

_GOPHER_ORACLE = _TOKS_CTE + f""", fl AS ({_FLAGS_SQL})
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(top_heavy) AS BIGINT) AS n_top_heavy,
       CAST(SUM(low_ttr) AS BIGINT) AS n_low_ttr,
       CAST(SUM(wlen_out) AS BIGINT) AS n_wlen_out,
       CAST(SUM(short_doc) AS BIGINT) AS n_short,
       CAST(SUM(CASE WHEN top_heavy + low_ttr + wlen_out + short_doc = 0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
FROM fl GROUP BY source
"""


def _doc_flags(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_features(spark, sf)
    return f.select(
        "doc_id",
        "source",
        F.expr(
            "CASE WHEN topc * 1000000 div n > 150000 THEN 1 ELSE 0 END"
        ).alias("top_heavy"),
        F.expr("CASE WHEN nd * 1000 div n < 380 THEN 1 ELSE 0 END").alias(
            "low_ttr"
        ),
        F.expr(
            "CASE WHEN chars * 1000 div n < 4000 OR chars * 1000 div n > 5000"
            " THEN 1 ELSE 0 END"
        ).alias("wlen_out"),
        F.expr("CASE WHEN n < 20 THEN 1 ELSE 0 END").alias("short_doc"),
    )


@_register(
    "gopher_quality_flags",
    _GOPHER_ORACLE,
    doc="Composite Gopher-style quality report per source: how many "
    "documents fail each of four deterministic integer rules "
    "(top-word mass > 15%, type-token ratio < 0.38, mean word length "
    "outside [4.0, 5.0] chars, under 20 tokens) and how many are "
    "clean. All four features are in-row array HOFs — one scan, one "
    "source-keyed aggregate.",
)
def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    fl = _doc_flags(spark, sf)
    return fl.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("top_heavy").cast("bigint").alias("n_top_heavy"),
        F.sum("low_ttr").cast("bigint").alias("n_low_ttr"),
        F.sum("wlen_out").cast("bigint").alias("n_wlen_out"),
        F.sum("short_doc").cast("bigint").alias("n_short"),
        F.sum(
            F.expr(
                "CASE WHEN top_heavy + low_ttr + wlen_out + short_doc = 0"
                " THEN 1 ELSE 0 END"
            )
        )
        .cast("bigint")
        .alias("n_clean"),
    )


_FLAG_NAMES = ("top_heavy", "low_ttr", "wlen_out", "short_doc")

_COOC_ORACLE = _TOKS_CTE + f""", fl AS ({_FLAGS_SQL})
SELECT * FROM (
""" + "\nUNION ALL\n".join(
    f"  SELECT '{a}' AS flag_a, '{b}' AS flag_b,"
    f" CAST(SUM({a} * {b}) AS BIGINT) AS n_docs FROM fl"
    for i, a in enumerate(_FLAG_NAMES)
    for b in _FLAG_NAMES[i:]
) + "\n)"


@_register(
    "quality_flag_cooccurrence",
    _COOC_ORACLE,
    doc="Pairwise co-occurrence matrix of the four Gopher quality flags "
    "(upper triangle incl. diagonal, 10 rows): which failure modes "
    "travel together decides whether rules are redundant or "
    "complementary before wiring them into a filter cascade. One "
    "scan; the 10 cells are conditional sums in a single global "
    "aggregate (map-side partials, a 1-row shuffle).",
)
def quality_flag_cooccurrence(spark: SparkSession, sf: str) -> DataFrame:
    fl = _doc_flags(spark, sf)
    cells = [
        F.sum(F.col(a) * F.col(b)).cast("bigint").alias(f"c_{i}_{j}")
        for i, a in enumerate(_FLAG_NAMES)
        for j, b in enumerate(_FLAG_NAMES)
        if j >= i
    ]
    one = fl.agg(*cells)
    pairs = [
        F.struct(
            F.lit(a).alias("flag_a"),
            F.lit(b).alias("flag_b"),
            F.col(f"c_{i}_{j}").alias("n_docs"),
        )
        for i, a in enumerate(_FLAG_NAMES)
        for j, b in enumerate(_FLAG_NAMES)
        if j >= i
    ]
    return one.select(F.explode(F.array(*pairs)).alias("u")).select(
        "u.flag_a", "u.flag_b", "u.n_docs"
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split + audits
# ---------------------------------------------------------------------------

# Split bucket: the first two hex digits of md5(doc_id) as a uniform
# 0..255 value (each digit decoded by position in the hex alphabet —
# md5 is the one digest both engines share bit-for-bit; same family as
# sample_hash / pack_sequences). 80/10/10 => thresholds 204 / 230.
_BUCKET_DUCK = (
    "(strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1)"
    " * 16 + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1))"
    " - 1"
)
_BUCKET_SPARK = (
    "(locate(substring(md5(cast(doc_id as string)), 1, 1), '0123456789abcdef') - 1)"
    " * 16 + locate(substring(md5(cast(doc_id as string)), 2, 1), '0123456789abcdef')"
    " - 1"
)


def _split_case(bucket_sql: str) -> str:
    return (
        f"CASE WHEN ({bucket_sql}) < 204 THEN 'train'"
        f" WHEN ({bucket_sql}) < 230 THEN 'val' ELSE 'test' END"
    )


_SPLIT_ORACLE = f"""
WITH d AS (
  SELECT source, {_split_case(_BUCKET_DUCK)} AS split,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tokens
  FROM documents
), a AS (
  SELECT split, source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM d GROUP BY split, source
)
SELECT split, source, n_docs, n_tokens,
       CAST(n_tokens * 1000000 // SUM(n_tokens) OVER (PARTITION BY source)
            AS BIGINT) AS tok_share_ppm
FROM a
"""


@_register(
    "split_assign_3way",
    _SPLIT_ORACLE,
    doc="Deterministic 80/10/10 train/val/test assignment: a uniform "
    "0..255 bucket from the first two md5(doc_id) hex digits, "
    "thresholds 204/230 — reproducible across engines, runs, and "
    "cluster layouts (the property rand()-based splits lack), with "
    "per-(split, source) document and token budgets and each split's "
    "ppm share of its source's tokens. The share window runs on the "
    "<= 60-row aggregate, never row-grain data.",
)
def split_assign_3way(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source",
        F.expr(_split_case(_BUCKET_SPARK)).alias("split"),
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        )
        .cast("bigint")
        .alias("n_tokens"),
    )
    a = d.groupBy("split", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
    )
    return a.select(
        "split",
        "source",
        "n_docs",
        "n_tokens",
        F.expr(
            "n_tokens * 1000000 div sum(n_tokens) over (partition by source)"
        ).alias("tok_share_ppm"),
    )


_DRIFT_ORACLE = f"""
WITH d AS (
  SELECT doc_id, {_split_case(_BUCKET_DUCK)} AS split,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), wc AS (
  SELECT u.w AS w, d.split, CAST(COUNT(*) AS BIGINT) AS c
  FROM d, unnest(d.w) AS u(w) GROUP BY u.w, d.split
), tot AS (
  SELECT split, SUM(c) AS t FROM wc GROUP BY split
), byw AS (
  SELECT w,
         SUM(c) AS c_all,
         SUM(CASE WHEN split = 'train' THEN c ELSE 0 END) AS c_train,
         SUM(CASE WHEN split = 'test' THEN c ELSE 0 END) AS c_test
  FROM wc GROUP BY w
), top AS (
  SELECT w, c_train, c_test,
         ROW_NUMBER() OVER (ORDER BY c_all DESC, w) AS rnk
  FROM byw
)
SELECT w,
       CAST(c_train * 1000000 // (SELECT t FROM tot WHERE split = 'train')
            AS BIGINT) AS train_ppm,
       CAST(c_test * 1000000 // (SELECT t FROM tot WHERE split = 'test')
            AS BIGINT) AS test_ppm,
       CAST(ABS(c_train * 1000000 // (SELECT t FROM tot WHERE split = 'train')
            - c_test * 1000000 // (SELECT t FROM tot WHERE split = 'test'))
            AS BIGINT) AS drift_ppm
FROM top WHERE rnk <= 20
"""


@_register(
    "split_drift_topwords",
    _DRIFT_ORACLE,
    doc="Split drift audit: the 20 highest-mass corpus words with their "
    "token-mass ppm inside train vs test and the absolute drift — a "
    "hash split should show near-zero drift, a time- or source-"
    "correlated split shows it immediately. Word counts aggregate "
    "once; the split totals are two broadcast scalars; the top-20 is "
    "orderBy().limit() (TakeOrderedAndProject — per-partition 20-row "
    "heaps, never a single-partition vocabulary sort) with a (count "
    "desc, word) tie-break making it deterministic.",
)
def split_drift_topwords(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    d = docs.select(F.expr(_split_case(_BUCKET_SPARK)).alias("split"), w.alias("w"))
    wc = d.select("split", F.explode("w").alias("w")).groupBy("w", "split").agg(
        F.count(F.lit(1)).alias("c")
    )
    byw = wc.groupBy("w").agg(
        F.sum("c").alias("c_all"),
        F.sum(F.when(F.col("split") == "train", F.col("c")).otherwise(0)).alias(
            "c_train"
        ),
        F.sum(F.when(F.col("split") == "test", F.col("c")).otherwise(0)).alias(
            "c_test"
        ),
    )
    tot = wc.groupBy().agg(
        F.sum(F.when(F.col("split") == "train", F.col("c")).otherwise(0)).alias(
            "t_train"
        ),
        F.sum(F.when(F.col("split") == "test", F.col("c")).otherwise(0)).alias(
            "t_test"
        ),
    )
    # top-20 via orderBy().limit() — TakeOrderedAndProject: per-partition
    # top-k + driver merge of 20-row heaps. A row_number() Window without
    # PARTITION BY would funnel the ENTIRE vocabulary (1e8-1e9 unigrams at
    # 100 TB) through one task; the (c_all desc, w) tie-break makes the
    # limit deterministic, so both plans return the identical 20 rows.
    top = byw.orderBy(F.col("c_all").desc(), F.col("w")).limit(20)
    joined = top.crossJoin(F.broadcast(tot))
    return joined.select(
        "w",
        F.expr("c_train * 1000000 div t_train").alias("train_ppm"),
        F.expr("c_test * 1000000 div t_test").alias("test_ppm"),
        F.expr(
            "abs(c_train * 1000000 div t_train - c_test * 1000000 div t_test)"
        ).alias("drift_ppm"),
    )


_LEAK_ORACLE = f"""
WITH d AS (
  SELECT doc_id, source, md5(text) AS dig, {_split_case(_BUCKET_DUCK)} AS split
  FROM documents
), g AS (
  SELECT dig, MAX(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
  FROM d GROUP BY dig
), t AS (
  SELECT d.source,
         CASE WHEN g.has_train = 1 THEN 1 ELSE 0 END AS leaked
  FROM d JOIN g ON d.dig = g.dig WHERE d.split = 'test'
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_test_docs,
       CAST(SUM(leaked) AS BIGINT) AS n_leaked,
       CAST(SUM(leaked) * 1000000 // COUNT(*) AS BIGINT) AS leak_ppm
FROM t GROUP BY source
"""


@_register(
    "split_dup_leakage",
    _LEAK_ORACLE,
    doc="Train->test duplicate leakage: test documents whose EXACT text "
    "(md5 digest) also appears in train — the contamination a naive "
    "doc-id hash split admits whenever duplicates exist, and the "
    "reason production splits run AFTER dedup. One digest-keyed "
    "aggregate marks train presence; the test side joins on digest "
    "only (no text comparison at shuffle time).",
)
def split_dup_leakage(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source",
        F.md5(F.col("text")).alias("dig"),
        F.expr(_split_case(_BUCKET_SPARK)).alias("split"),
    )
    g = d.groupBy("dig").agg(
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "has_train"
        )
    )
    t = (
        d.where(F.col("split") == "test")
        .join(g, "dig")
        .select(
            "source",
            F.when(F.col("has_train") == 1, 1).otherwise(0).alias("leaked"),
        )
    )
    return t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_test_docs"),
        F.sum("leaked").cast("bigint").alias("n_leaked"),
        F.expr("sum(leaked) * 1000000 div count(1)").alias("leak_ppm"),
    )


# ---------------------------------------------------------------------------
# Positional / correlation text profiles
# ---------------------------------------------------------------------------

_POSITION_ORACLE = """
WITH toks AS (
  SELECT lang,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), x AS (
  SELECT lang, w, len(w) AS nw, unnest(range(0, len(w))) AS i
  FROM toks WHERE len(w) > 0
), e AS (
  SELECT lang, CAST(i * 3 // nw AS INTEGER) AS tercile, len(w[i + 1]) AS wl
  FROM x
)
SELECT lang, tercile,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(wl) * 1000 // COUNT(*) AS BIGINT) AS mean_len_milli
FROM e GROUP BY lang, tercile
"""


@_register(
    "word_position_profile",
    _POSITION_ORACLE,
    doc="Positional homogeneity: mean word length (milli) by document "
    "tercile (leading / middle / trailing third of each document's "
    "token stream) per language — templated boilerplate shows up as a "
    "positional skew natural text lacks. The tercile is integer "
    "position arithmetic on posexplode output; one (lang, tercile) "
    "aggregate.",
)
def word_position_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit("")
    )
    d = docs.select("lang", w.alias("w")).where(F.size("w") > 0)
    e = d.select(
        "lang", F.size("w").alias("nw"), F.posexplode("w").alias("i", "word")
    ).select(
        "lang",
        F.expr("i * 3 div nw").cast("int").alias("tercile"),
        F.length("word").alias("wl"),
    )
    return e.groupBy("lang", "tercile").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.expr("sum(wl) * 1000 div count(1)").alias("mean_len_milli"),
    )


_TTR_CORR_ORACLE = _TOKS_CTE + """
, m AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CAST(n AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(nd AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(n AS DECIMAL(19,0)) * nd) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(n AS DECIMAL(19,0)) * n) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(nd AS DECIMAL(19,0)) * nd) AS DOUBLE) AS syy
  FROM f GROUP BY lang
)
SELECT lang, n,
       CAST(floor((n * sxy - sx * sy)
            / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
            * 1000000.0) AS BIGINT) AS corr_micro
FROM m
"""


@_register(
    "doc_len_ttr_corr",
    _TTR_CORR_ORACLE,
    doc="Pearson correlation (micro) between document length and "
    "distinct-word count per language — the length-vs-vocabulary "
    "coupling that says whether a raw TTR threshold double-counts the "
    "length filter. Exact DECIMAL moments, one final double op tree "
    "(the round7 autocorr recipe), floor to integer micro.",
)
def doc_len_ttr_corr(spark: SparkSession, sf: str) -> DataFrame:
    f = _doc_features(spark, sf)
    d = lambda c: c.cast("decimal(19,0)")  # noqa: E731
    m = f.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("n"))).cast("double").alias("sx"),
        F.sum(d(F.col("nd"))).cast("double").alias("sy"),
        F.sum(d(F.col("n")) * F.col("nd")).cast("double").alias("sxy"),
        F.sum(d(F.col("n")) * F.col("n")).cast("double").alias("sxx"),
        F.sum(d(F.col("nd")) * F.col("nd")).cast("double").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    corr = (n * sxy - sx * sy) / (
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)
    )
    return m.select(
        "lang", "n", F.floor(corr * 1000000.0).cast("long").alias("corr_micro")
    )


# ---------------------------------------------------------------------------
# folded from the round9 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# boilerplate / template detection
# ---------------------------------------------------------------------------

_BOILER_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM toks WHERE len(w) >= 3
), per_doc_sh AS (
  SELECT doc_id, source, s, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sh GROUP BY doc_id, source, s
), src_docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM toks WHERE len(w) >= 3 GROUP BY source
), spread AS (
  SELECT source, s, CAST(COUNT(*) AS BIGINT) AS df
  FROM per_doc_sh GROUP BY source, s
), boiler AS (
  SELECT sp.source, sp.s
  FROM spread sp JOIN src_docs sd ON sp.source = sd.source
  WHERE sp.df >= 2 AND sp.df * 10 >= sd.n_docs
)
SELECT p.doc_id, p.source,
       CAST(SUM(p.cnt) AS BIGINT) AS n_pos,
       CAST(SUM(CASE WHEN b.s IS NOT NULL THEN p.cnt ELSE 0 END) AS BIGINT)
         AS n_boiler_pos,
       CAST(SUM(CASE WHEN b.s IS NOT NULL THEN p.cnt ELSE 0 END) * 1000000
            // SUM(p.cnt) AS BIGINT) AS boiler_ppm
FROM per_doc_sh p
LEFT JOIN boiler b ON p.source = b.source AND p.s = b.s
GROUP BY p.doc_id, p.source
"""


@_register(
    "boilerplate_ngrams",
    _BOILER_ORACLE,
    doc="Boilerplate detection, the RefinedWeb line-dedup family on this "
    "corpus's shingle grain: a word 3-gram is BOILERPLATE within its "
    "source when it appears in >= 2 docs AND >= 10%% of the source's "
    "docs (integer df*10 >= n_docs — no float threshold), and each "
    "document reports its boilerplate POSITION mass (occurrences, with "
    "multiplicity) in ppm. Shuffles: one (source, shingle)-keyed "
    "aggregate for df, re-joined to the per-doc shingle counts on the "
    "same key (co-partitioned), plus a broadcast ~20-row per-source "
    "doc-count dim; at 100 TB the boilerplate set is the banded join "
    "key, never a pairwise comparison.",
)
def boilerplate_ngrams(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    toks = docs.select("doc_id", "source", w.alias("w")).where(F.size("w") >= 3)
    sh = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - 3),
                lambda i: F.concat_ws(
                    " ", F.slice(F.col("w"), i + 1, 3)
                ),
            )
        ).alias("s"),
    )
    per_doc = sh.groupBy("doc_id", "source", "s").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    src_docs = toks.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    spread = per_doc.groupBy("source", "s").agg(F.count(F.lit(1)).alias("df"))
    boiler = (
        spread.join(F.broadcast(src_docs), "source")
        .where((F.col("df") >= 2) & (F.col("df") * 10 >= F.col("n_docs")))
        .select(F.col("source").alias("bsource"), F.col("s").alias("bs"))
    )
    joined = per_doc.join(
        boiler,
        (F.col("source") == F.col("bsource")) & (F.col("s") == F.col("bs")),
        "left",
    ).select("doc_id", "source", "s", "cnt", "bs")
    return joined.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("bigint").alias("n_pos"),
        F.sum(F.when(F.col("bs").isNotNull(), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_boiler_pos"),
        F.expr(
            "sum(CASE WHEN bs IS NOT NULL THEN cnt ELSE 0 END) * 1000000"
            " div sum(cnt)"
        ).alias("boiler_ppm"),
    )


_PREFIX_CTE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), pfx AS (
  SELECT doc_id, source, array_to_string(w[1:1], ' ') AS prefix
  FROM toks WHERE len(w) >= 2
)
"""


@_register(
    "prefix_bucket_sizes",
    _PREFIX_CTE.replace("w[1:1]", "w[1:1]")  # 2-word prefix: see below
    .replace("array_to_string(w[1:1], ' ')", "array_to_string(w[1:2], ' ')")
    + """
SELECT prefix,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       CAST(MIN(doc_id) AS BIGINT) AS rep_doc
FROM pfx GROUP BY prefix HAVING COUNT(*) >= 2
""",
    doc="Template-candidate buckets: documents sharing an identical "
    "leading word 2-gram (2 for test-corpus density; production "
    "template detection uses 16+) grouped into buckets of >= 2 docs "
    "with their source spread and lowest-id representative — the "
    "scraped-template / mirror-page detector that runs BEFORE "
    "pairwise near-dup at 100 TB because its key is O(1) per doc and "
    "the bucket join is one exact-key aggregate, no banding needed.",
)
def prefix_bucket_sizes(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    pfx = docs.select(
        "doc_id",
        "source",
        F.concat_ws(" ", F.slice(w, 1, 2)).alias("prefix"),
        F.size(w).alias("nw"),
    ).where(F.col("nw") >= 2)
    return (
        pfx.groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("source").alias("n_sources"),
            F.min("doc_id").alias("rep_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )


@_register(
    "prefix_source_flow",
    _PREFIX_CTE.replace("array_to_string(w[1:1], ' ')", "array_to_string(w[1:2], ' ')")
    + """
, per_src AS (
  SELECT prefix, source, CAST(COUNT(*) AS BIGINT) AS n
  FROM pfx GROUP BY prefix, source
), flows AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CASE WHEN a.source = b.source THEN a.n * (a.n - 1) // 2
              ELSE a.n * b.n END AS n_pairs
  FROM per_src a JOIN per_src b
    ON a.prefix = b.prefix AND a.source <= b.source
  WHERE a.source < b.source OR (a.source = b.source AND a.n >= 2)
)
SELECT src_a, src_b, CAST(SUM(n_pairs) AS BIGINT) AS n_pairs
FROM flows GROUP BY src_a, src_b
""",
    doc="Cross-source duplication flow matrix over the template-prefix "
    "key: for every bucket of docs sharing a leading 2-gram, pair "
    "counts aggregate to an (src_a <= src_b) flow matrix — within-"
    "source pairs as C(n,2), cross-source as n_a*n_b — the 'which "
    "sources mirror each other' report. The pair counting is "
    "ARITHMETIC over per-(prefix, source) counts (one aggregate + one "
    "equi-self-join on the prefix key); no doc-level pair is ever "
    "materialized, so a viral bucket costs integers, not O(n^2) rows.",
)
def prefix_source_flow(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    pfx = docs.select(
        "source",
        F.concat_ws(" ", F.slice(w, 1, 2)).alias("prefix"),
        F.size(w).alias("nw"),
    ).where(F.col("nw") >= 2)
    per_src = pfx.groupBy("prefix", "source").agg(F.count(F.lit(1)).alias("n"))
    a = per_src.alias("a")
    b = per_src.alias("b")
    flows = (
        a.join(
            b,
            (F.col("a.prefix") == F.col("b.prefix"))
            & (F.col("a.source") <= F.col("b.source")),
        )
        .where(
            (F.col("a.source") < F.col("b.source"))
            | ((F.col("a.source") == F.col("b.source")) & (F.col("a.n") >= 2))
        )
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            F.when(
                F.col("a.source") == F.col("b.source"),
                # integer halving via shiftright, not /2-with-cast: the float
                # quotient is only exact while n*(n-1) < 2^53 (~9.4e7 docs per
                # prefix) — a viral bucket at scale would diverge from the
                # oracle's //. n*(n-1) >= 0 so the shift IS the exact div 2.
                F.shiftright((F.col("a.n") * (F.col("a.n") - 1)).cast("bigint"), 1),
            )
            .otherwise(F.col("a.n") * F.col("b.n"))
            .alias("n_pairs"),
        )
    )
    return flows.groupBy("src_a", "src_b").agg(
        F.sum("n_pairs").cast("bigint").alias("n_pairs")
    )


# ---------------------------------------------------------------------------
# language-ID calibration
# ---------------------------------------------------------------------------


def _langid_confusion_oracle() -> str:
    from cve_manager_spark.plans.pipeline import _LANG_ORACLE

    return f"""
WITH pred AS ({_LANG_ORACLE})
SELECT d.lang, p.pred_lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) * 1000000 //
            SUM(COUNT(*)) OVER (PARTITION BY d.lang) AS BIGINT) AS row_ppm
FROM documents d JOIN pred p ON d.doc_id = p.doc_id
GROUP BY d.lang, p.pred_lang
"""


@_register(
    "langid_confusion",
    _langid_confusion_oracle(),
    doc="Language-ID calibration: confusion matrix of the stored truth "
    "label against the deterministic marker-word heuristic "
    "(operators.text.lang_id — argmax with en>de>fr>es tie-break, "
    "'und' on zero evidence), with each cell's ppm share of its truth "
    "row. The matrix quantifies exactly where the cheap heuristic is "
    "trustworthy (zh has no markers and must land in 'und'/confusions) "
    "— the audit you run before using heuristic lang-id as a 100 TB "
    "routing key. One narrow map pass + a <= 25-cell aggregate; the "
    "share window runs on the aggregate only.",
)
def langid_confusion(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators import text as T

    docs = fan_out(load_table(spark, sf, "documents"))
    pred = T.lang_id(docs)
    agg = pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return agg.select(
        "lang",
        "pred_lang",
        "n_docs",
        F.expr(
            "n_docs * 1000000 div sum(n_docs) over (partition by lang)"
        ).alias("row_ppm"),
    )


# ---------------------------------------------------------------------------
# in-row repetition (Gopher family)
# ---------------------------------------------------------------------------


@_register(
    "max_trigram_repeat",
    """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id,
         list_transform(range(1, len(w) - 1),
                        i -> array_to_string(w[i:i+2], ' ')) AS tri
  FROM toks WHERE len(w) >= 3
)
SELECT doc_id, CAST(len(tri) AS BIGINT) AS n_tri,
       CAST(list_max(list_transform(list_distinct(tri),
              d -> len(list_filter(tri, x -> x = d)))) AS BIGINT) AS max_rep,
       CAST(list_max(list_transform(list_distinct(tri),
              d -> len(list_filter(tri, x -> x = d)))) * 1000000
            // len(tri) AS BIGINT) AS rep_ppm
FROM sh
""",
    doc="Gopher-style repetition rule at trigram grain, computed "
    "entirely IN-ROW: the most-repeated word 3-gram's occurrence count "
    "per document, via array HOFs over the shingle list (distinct × "
    "filter-count, O(distinct·n) per doc, bounded by document length). "
    "Zero doc-grain shuffle — at 100 TB this is pure map-side compute "
    "like top_word_mass_bands/dup_bigram_mass, completing the "
    "unigram/bigram/trigram repetition ladder.",
)
def max_trigram_repeat(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = F.filter(F.split(F.lower(F.col("text")), r"\s+"), lambda x: x != F.lit(""))
    tri = F.transform(
        F.sequence(F.lit(0), F.size(F.col("w")) - 3),
        lambda i: F.concat_ws(" ", F.slice(F.col("w"), i + 1, 3)),
    )
    sh = (
        docs.select("doc_id", w.alias("w"))
        .where(F.size("w") >= 3)
        .select("doc_id", tri.alias("tri"))
    )
    max_rep = F.array_max(
        F.transform(
            F.array_distinct(F.col("tri")),
            lambda d: F.size(F.filter(F.col("tri"), lambda x: x == d)),
        )
    ).cast("bigint")
    return sh.select(
        "doc_id",
        F.size("tri").cast("bigint").alias("n_tri"),
        max_rep.alias("max_rep"),
        (max_rep * 1_000_000 / F.size("tri")).cast("bigint").alias("rep_ppm"),
    )


# ---------------------------------------------------------------------------
# dataloader packing utilization
# ---------------------------------------------------------------------------


def _packing_util_oracle() -> str:
    from cve_manager_spark.plans.corpus import _PACK_ORACLE

    return f"""
WITH packed AS ({_PACK_ORACLE})
SELECT shard, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       CAST(SUM(n_tokens) * 1000000 // 2048 AS BIGINT) AS fill_ppm
FROM packed GROUP BY shard, seq_id
"""


@_register(
    "packing_utilization",
    _packing_util_oracle(),
    doc="Packing utilization audit over pack_sequences' output: per "
    "(shard, sequence) document count, token total, and fill ppm "
    "against the 2048-token budget (straddling docs land in the "
    "sequence where they started, so fills jitter around 10^6 — the "
    "report a dataloader owner reads to size the budget and spot "
    "pathological shards). Reuses the registered packing plan verbatim "
    "and adds one aggregate on the (shard, seq) key the window "
    "already partitioned by.",
)
def packing_utilization(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import pack_sequences

    packed = pack_sequences(spark, sf)
    return packed.groupBy("shard", "seq_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.expr("sum(n_tokens) * 1000000 div 2048").alias("fill_ppm"),
    )


_LEN_BANDS = [(0, 16), (16, 32), (32, 64), (64, 128), (128, 256), (256, None)]


def _len_band_case(col: str) -> str:
    parts = []
    for lo, hi in _LEN_BANDS:
        cond = f"{col} >= {lo}" + (f" AND {col} < {hi}" if hi else "")
        parts.append(f"WHEN {cond} THEN {lo}")
    return "CASE " + " ".join(parts) + " END"


@_register(
    "doc_length_mass_bands",
    f"""
WITH d AS (
  SELECT CAST({_len_band_case("n_tok")} AS BIGINT) AS band_lo, n_tok
  FROM (SELECT len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents)
), agg AS (
  SELECT band_lo, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS token_mass
  FROM d GROUP BY band_lo
)
SELECT band_lo, n_docs, token_mass,
       CAST(SUM(token_mass) OVER (ORDER BY band_lo DESC
                                  ROWS UNBOUNDED PRECEDING) * 1000000
            // SUM(token_mass) OVER () AS BIGINT) AS cum_ppm_from_longest
FROM agg
""",
    doc="Document-length MASS concentration: an explicit power-of-two "
    "band ladder (CASE literals, never float log2 — the "
    "word_df_zipf_buckets discipline) over whitespace token counts, "
    "reporting each band's doc count, token mass, and the cumulative "
    "ppm of corpus tokens held by this band and all LONGER bands — "
    "'what share of training tokens comes from long documents', the "
    "at-scale substitute for an exact per-doc Pareto sort: the "
    "cumulative window runs over <= 6 band rows, row-grain data never "
    "passes a global sort.",
)
def doc_length_mass_bands(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    n_tok = F.size(
        F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    )
    d = docs.select(n_tok.alias("n_tok")).select(
        F.expr(_len_band_case("n_tok")).cast("bigint").alias("band_lo"), "n_tok"
    )
    agg = d.groupBy("band_lo").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("token_mass"),
    )
    return agg.select(
        "band_lo",
        "n_docs",
        "token_mass",
        F.expr(
            "sum(token_mass) over (order by band_lo desc"
            " rows unbounded preceding) * 1000000"
            " div sum(token_mass) over ()"
        ).alias("cum_ppm_from_longest"),
    )


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Char-grain cross-doc window repetition (exact-substring dedup family)
# ---------------------------------------------------------------------------

_CHARWIN_CTE = """
WITH nt AS (
  SELECT doc_id, source,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t
  FROM documents
), w AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, length(t) - 30, 16),
                               p -> substr(t, p, 32))) AS win
  FROM nt WHERE length(t) >= 32
)
"""

_CHARWIN_SPARK = (
    "transform(sequence(1, length(t) - 31, 16), p -> substring(t, p, 32))"
)


def _charwin_df(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    nt = docs.select(
        "doc_id",
        "source",
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).alias("t"),
    )
    return nt.where(F.length("t") >= 32).select(
        "doc_id", "source", F.explode(F.expr(_CHARWIN_SPARK)).alias("win")
    )


@_register(
    "char_window_xdoc",
    _CHARWIN_CTE
    + """
, rep AS (
  SELECT win FROM (
    SELECT win, COUNT(DISTINCT doc_id) AS dd FROM w GROUP BY win
  ) WHERE dd >= 2
)
SELECT w.source,
       CAST(COUNT(*) AS BIGINT) AS n_windows,
       CAST(SUM(CASE WHEN r.win IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_rep,
       CAST(SUM(CASE WHEN r.win IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS rep_ppm
FROM w LEFT JOIN rep r ON w.win = r.win
GROUP BY w.source
""",
    doc="Char-grain cross-doc repetition mass — the character-window half "
    "of the exact-substring dedup family (word-shingle grain already "
    "verified): text normalized (lower, whitespace collapsed), cut into "
    "32-char windows at stride 16, a window is REPEATED when its exact "
    "string occurs in >= 2 distinct docs; per source report the ppm of "
    "window positions covered by repeated windows. The stride bounds "
    "blowup to ~len/16 windows per doc; the repeated set is one "
    "(window)-keyed aggregate re-joined on the same key — "
    "co-partitioned, no pairwise comparison anywhere (at 100 TB the "
    "window hash is the shuffle key exactly like the shingle recipes).",
)
def char_window_xdoc(spark: SparkSession, sf: str) -> DataFrame:
    w = _charwin_df(spark, sf)
    rep = (
        w.groupBy("win")
        .agg(F.count_distinct("doc_id").alias("dd"))
        .where(F.col("dd") >= 2)
        .select("win", F.lit(1).alias("__rep"))
    )
    return (
        w.join(rep, "win", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce("__rep", F.lit(0))).cast("bigint").alias("n_rep"),
            F.expr("sum(coalesce(__rep, 0)) * 1000000 div count(1)").alias(
                "rep_ppm"
            ),
        )
    )


@_register(
    "char_window_source_leakage",
    _CHARWIN_CTE
    + """
SELECT ns AS n_sources,
       CAST(COUNT(*) AS BIGINT) AS n_window_values,
       CAST(SUM(n_occ) AS BIGINT) AS n_occurrences
FROM (
  SELECT win, CAST(COUNT(DISTINCT source) AS INTEGER) AS ns,
         CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM w GROUP BY win
) GROUP BY ns
""",
    doc="Cross-SOURCE char-window leakage profile: distinct 32-char "
    "windows bucketed by how many sources they appear in — n_sources=1 "
    "is source-local phrasing, the >= 2 tail is template/boilerplate "
    "text that crossed crawl boundaries (syndication, mirrors) and is "
    "exactly the text char-grain dedup recovers corpus-wide where "
    "per-source boilerplate rules cannot. Two chained hash aggregates "
    "on (win) then (n_sources); no joins.",
)
def char_window_source_leakage(spark: SparkSession, sf: str) -> DataFrame:
    w = _charwin_df(spark, sf)
    per = w.groupBy("win").agg(
        F.count_distinct("source").cast("int").alias("n_sources"),
        F.count(F.lit(1)).alias("n_occ"),
    )
    return per.groupBy("n_sources").agg(
        F.count(F.lit(1)).alias("n_window_values"),
        F.sum("n_occ").cast("bigint").alias("n_occurrences"),
    )


# ---------------------------------------------------------------------------
# Temperature-based source mixing weights (tau = 0.5, exact integer sqrt)
# ---------------------------------------------------------------------------


@_register(
    "mix_temperature",
    """
WITH d AS (
  SELECT source,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tok
  FROM documents
), s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tok) AS BIGINT) AS tok_mass
  FROM d GROUP BY source
), q AS (
  SELECT source, n_docs, tok_mass,
         CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS sq_docs,
         CAST(FLOOR(SQRT(CAST(tok_mass AS DOUBLE))) AS BIGINT) AS sq_tok
  FROM s
)
SELECT source, n_docs, tok_mass,
       CAST(sq_docs * 1000000 // SUM(sq_docs) OVER () AS BIGINT) AS w_doc_ppm,
       CAST(sq_tok * 1000000 // SUM(sq_tok) OVER () AS BIGINT) AS w_tok_ppm
FROM q
""",
    doc="Temperature-based source sampling weights, tau = 0.5: the "
    "p^tau renormalization LLM training mixes use to up-weight small "
    "sources (multilingual-sampling literature), computed EXACTLY — "
    "w_i = floor(sqrt(mass_i)) * 1e6 div sum_j floor(sqrt(mass_j)). "
    "floor(sqrt(n)) is deterministic across engines for n < 2^40 "
    "because IEEE sqrt is correctly rounded and the nearest integer "
    "boundary is >= 2^-21 away vs a ~2^-32 ulp; everything after is "
    "BIGINT arithmetic. Complements mix_budget (fixed-share budgeter): "
    "this derives the shares. One groupBy(source) aggregate + a 20-row "
    "broadcast total.",
)
def mix_temperature(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_tok"),
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_mass"),
    )
    q = s.select(
        "source",
        "n_docs",
        "tok_mass",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("bigint").alias("sq_docs"),
        F.floor(F.sqrt(F.col("tok_mass").cast("double")))
        .cast("bigint")
        .alias("sq_tok"),
    )
    tot = q.agg(F.sum("sq_docs").alias("td"), F.sum("sq_tok").alias("tt"))
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "tok_mass",
        F.expr("sq_docs * 1000000 div td").alias("w_doc_ppm"),
        F.expr("sq_tok * 1000000 div tt").alias("w_tok_ppm"),
    )


# ---------------------------------------------------------------------------
# Tokens-per-char quality bands
# ---------------------------------------------------------------------------


@_register(
    "tokens_per_kchar_bands",
    """
WITH d AS (
  SELECT source,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tok,
         length(text) AS n_char
  FROM documents
), b AS (
  SELECT source, n_tok,
         CAST(LEAST(19, (n_tok * 1000 // n_char) // 20) AS INTEGER) AS band
  FROM d
)
SELECT source, band, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tok_mass
FROM b GROUP BY source, band
""",
    doc="Token-density quality bands: tokens per kilochar (n_tok * 1000 "
    "div n_char, banded by 20) per source — the compression-ratio "
    "proxy CCNet-style filters use: very low density = code/tables/"
    "markup, very high = word-salad; prose clusters mid-band. Pure "
    "integer band ladder, one in-row expression + one (source, band) "
    "aggregate; band count is bounded (<= 20) so the result never "
    "scales with the corpus.",
)
def tokens_per_kchar_bands(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_tok"),
        F.length("text").alias("n_char"),
    )
    b = d.select(
        "source",
        "n_tok",
        F.expr("least(19, (n_tok * 1000 div n_char) div 20)")
        .cast("int")
        .alias("band"),
    )
    return b.groupBy("source", "band").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_mass"),
    )


# ---------------------------------------------------------------------------
# folded from the round9c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Split drift: PSI over a fixed band spine
# ---------------------------------------------------------------------------


def _split_sql(engine_bucket: str) -> str:
    from cve_manager_spark.plans.corpus import _split_case

    return _split_case(engine_bucket)


def _psi_oracle() -> str:
    from cve_manager_spark.plans.corpus import _BUCKET_DUCK

    return f"""
WITH d AS (
  SELECT {_split_sql(_BUCKET_DUCK)} AS split,
         LEAST(19, len(list_filter(string_split_regex(text, '\\s+'),
                                   x -> x <> '')) // 25) AS band
  FROM documents
), spine AS (
  SELECT unnest(range(0, 20)) AS band
), c AS (
  SELECT s.band,
         CAST(COALESCE(SUM(CASE WHEN d.split = 'train' THEN 1 END), 0)
              AS BIGINT) AS n_train,
         CAST(COALESCE(SUM(CASE WHEN d.split = 'test' THEN 1 END), 0)
              AS BIGINT) AS n_test
  FROM spine s LEFT JOIN d ON d.band = s.band
  GROUP BY s.band
), t AS (
  SELECT CAST(SUM(n_train) AS BIGINT) AS tt, CAST(SUM(n_test) AS BIGINT) AS te
  FROM c
), p AS (
  SELECT band, n_train, n_test,
         (CAST(n_train + 1 AS DOUBLE) / CAST(tt + 20 AS DOUBLE)) AS pt,
         (CAST(n_test + 1 AS DOUBLE) / CAST(te + 20 AS DOUBLE)) AS pe
  FROM c CROSS JOIN t
), terms AS (
  SELECT band, n_train, n_test,
         CAST(ROUND((pt - pe) * ln(pt / pe), 6) AS DECIMAL(18,6)) AS term
  FROM p
)
SELECT band, n_train, n_test,
       CAST(term AS DOUBLE) AS psi_term,
       CAST(SUM(term) OVER () AS DOUBLE) AS psi_total
FROM terms
"""


@_register(
    "split_psi",
    _psi_oracle(),
    doc="Population Stability Index between the train and test splits "
    "over a FIXED 20-band doc-length spine (band = n_tok div 25, "
    "capped) — the ML-ops drift gauge: PSI < 0.1 stable, > 0.25 the "
    "split is not exchangeable and eval numbers are suspect. Laplace "
    "+1 smoothing keeps empty bands defined; each (pt-pe)*ln(pt/pe) "
    "term is rounded to 6dp and summed as exact DECIMAL (round6 "
    "entropy recipe) so the total is order-independent. The spine is "
    "generated, not observed — missing bands surface as zero rows "
    "instead of silently shrinking the sum. One scan + a 20-row "
    "broadcast join; nothing scales past the band count.",
)
def split_psi(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _BUCKET_SPARK

    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        F.expr(_split_sql(_BUCKET_SPARK)).alias("split"),
        F.expr(
            "least(19, size(filter(split(text, '\\\\s+'), x -> x != '')) div 25)"
        ).alias("band"),
    )
    spine = spark.range(0, 20).select(F.col("id").cast("bigint").alias("band"))
    c = (
        spine.join(d, "band", "left")
        .groupBy("band")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("split") == "train", 1)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_train"),
            F.coalesce(F.sum(F.when(F.col("split") == "test", 1)), F.lit(0))
            .cast("bigint")
            .alias("n_test"),
        )
    )
    t = c.agg(F.sum("n_train").alias("tt"), F.sum("n_test").alias("te"))
    p = c.crossJoin(F.broadcast(t)).select(
        "band",
        "n_train",
        "n_test",
        ((F.col("n_train") + 1).cast("double") / (F.col("tt") + 20).cast("double")).alias("pt"),
        ((F.col("n_test") + 1).cast("double") / (F.col("te") + 20).cast("double")).alias("pe"),
    )
    term = F.round(
        (F.col("pt") - F.col("pe")) * F.log(F.col("pt") / F.col("pe")), 6
    ).cast("decimal(18,6)")
    terms = p.select("band", "n_train", "n_test", term.alias("term"))
    return terms.select(
        "band",
        "n_train",
        "n_test",
        F.col("term").cast("double").alias("psi_term"),
        F.sum("term").over(Window.partitionBy()).cast("double").alias("psi_total"),
    )


# ---------------------------------------------------------------------------
# Per-source KL divergence vs the corpus unigram LM
# ---------------------------------------------------------------------------


@_register(
    "source_unigram_kl",
    """
WITH tok AS (
  SELECT source,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS word
  FROM documents
), sw AS (
  SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
), st AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS ts,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM sw GROUP BY source
), cw AS (
  SELECT word, CAST(SUM(c) AS BIGINT) AS cc FROM sw GROUP BY word
), tt AS (
  SELECT CAST(SUM(c) AS BIGINT) AS t FROM sw
)
SELECT sw.source, MAX(st.ts) AS n_tokens, MAX(st.n_types) AS n_types,
       CAST(SUM(CAST(ROUND(
         (CAST(sw.c AS DOUBLE) / CAST(st.ts AS DOUBLE))
           * ln((CAST(sw.c AS DOUBLE) / CAST(st.ts AS DOUBLE))
                / (CAST(cw.cc AS DOUBLE) / CAST(tt.t AS DOUBLE))), 6)
         AS DECIMAL(18,6))) AS DOUBLE) AS kl
FROM sw
JOIN st ON sw.source = st.source
JOIN cw ON sw.word = cw.word
CROSS JOIN tt
GROUP BY sw.source
""",
    doc="KL divergence of each source's unigram distribution from the "
    "corpus LM — the domain-shift score data-mixing decisions read "
    "(a source with high KL is stylistically far from the blend; "
    "CCNet uses the same quantity as LM perplexity). Defined without "
    "smoothing because source vocabularies are subsets of the corpus "
    "vocabulary (p_corpus > 0 wherever p_source > 0). Each "
    "p*ln(p/q) term rounded to 6dp, summed as exact DECIMAL; counts "
    "join word-keyed (co-partitioned with the count aggregate), "
    "totals ride a 20-row broadcast + a 1-row cross join.",
)
def source_unigram_kl(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    tok = docs.select(
        "source", F.explode(words(F.lower(F.col("text")))).alias("word")
    )
    sw = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    st = sw.groupBy("source").agg(
        F.sum("c").alias("ts"), F.count(F.lit(1)).alias("n_types")
    )
    cw = sw.groupBy("word").agg(F.sum("c").alias("cc"))
    tt = sw.agg(F.sum("c").alias("t"))
    ps = F.col("c").cast("double") / F.col("ts").cast("double")
    pc = F.col("cc").cast("double") / F.col("t").cast("double")
    term = F.round(ps * F.log(ps / pc), 6).cast("decimal(18,6)")
    return (
        sw.join(F.broadcast(st), "source")
        .join(cw, "word")
        .crossJoin(F.broadcast(tt))
        .groupBy("source")
        .agg(
            F.max("ts").alias("n_tokens"),
            F.max("n_types").alias("n_types"),
            F.sum(term).cast("double").alias("kl"),
        )
    )


# ---------------------------------------------------------------------------
# Exact integer Gini: token mass per source, order values per segment
# ---------------------------------------------------------------------------

_GINI_DOC = (
    "Gini = sum_i (2i - n - 1) x_(i) / (n sum x) with x ascending; the "
    "numerator is exact BIGINT (rank coefficients sum identically over "
    "ties, so any stable tie order gives the same value) and the ppm is "
    "one integer division — no float anywhere."
)


@_register(
    "token_gini_by_source",
    """
WITH d AS (
  SELECT source, doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
           AS n_tok
  FROM documents
), r AS (
  SELECT source, n_tok,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS i,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d
)
SELECT source, CAST(MAX(n) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS tok_mass,
       CAST(SUM((2 * i - n - 1) * n_tok) * 1000000
            // (MAX(n) * SUM(n_tok)) AS BIGINT) AS gini_ppm
FROM r GROUP BY source
""",
    doc="Token-mass inequality WITHIN each source: are a source's tokens "
    "spread evenly across its documents or concentrated in a few "
    "mega-docs (which dominate training batches and skew dedup "
    "savings)? " + _GINI_DOC + " One source-partitioned window sort "
    "then a per-source fold.",
)
def token_gini_by_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select(
        "source",
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
        ).alias("n_tok"),
    )
    w = Window.partitionBy("source").orderBy("n_tok", "doc_id")
    wn = Window.partitionBy("source")
    r = d.select(
        "source",
        "n_tok",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    # the Gini numerator sum reaches ~n^2 * max(x) * 1e6 — BIGINT wraps
    # silently where DuckDB auto-promotes SUM to HUGEINT, so Spark carries
    # it as exact DECIMAL(38,0) (d19*d19 product pattern) and divides with
    # integral `div`
    return r.groupBy("source").agg(
        F.max("n").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tok_mass"),
        F.expr(
            "cast(sum(cast(2 * i - n - 1 as decimal(19,0))"
            "         * cast(n_tok as decimal(19,0))) * 1000000"
            " div cast(max(n) * sum(n_tok) as decimal(19,0)) as bigint)"
        ).alias("gini_ppm"),
    )


# ---------------------------------------------------------------------------
# Character coverage curve (tokenizer design input)
# ---------------------------------------------------------------------------


@_register(
    "char_coverage_curve",
    """
WITH ch AS (
  SELECT unnest(list_transform(range(1, length(text) + 1),
                               i -> substr(text, i, 1))) AS c
  FROM documents
), cc AS (
  SELECT c, CAST(COUNT(*) AS BIGINT) AS cnt FROM ch WHERE c <> ' ' GROUP BY c
), r AS (
  SELECT c, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, c) AS rnk FROM cc
), b AS (
  SELECT CASE WHEN rnk <= 10 THEN 1 WHEN rnk <= 20 THEN 11
              WHEN rnk <= 50 THEN 21 WHEN rnk <= 100 THEN 51
              ELSE 101 END AS rank_band, cnt
  FROM r
), g AS (
  SELECT rank_band, CAST(COUNT(*) AS BIGINT) AS n_chars,
         CAST(SUM(cnt) AS BIGINT) AS char_mass
  FROM b GROUP BY rank_band
)
SELECT rank_band, n_chars, char_mass,
       CAST(SUM(char_mass) OVER (ORDER BY rank_band
                                 ROWS UNBOUNDED PRECEDING) * 1000000
            // SUM(char_mass) OVER () AS BIGINT) AS cum_ppm
FROM g
""",
    doc="Character coverage curve — the SentencePiece character_coverage "
    "input: non-space characters ranked by frequency (count desc, char "
    "asc tie-break), banded by rank (top-10/20/50/100/rest) with "
    "cumulative corpus-mass ppm per band; where the curve crosses "
    "0.9995e6 sets the tokenizer's byte-fallback alphabet. The "
    "explode is one map-side-combinable char count (alphabet-bounded "
    "output), then windows over <= 5 rows.",
)
def char_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    ch = docs.select(
        F.explode(
            F.expr("transform(sequence(1, length(text)), i -> substring(text, i, 1))")
        ).alias("c")
    ).where(F.col("c") != " ")
    cc = ch.groupBy("c").agg(F.count(F.lit(1)).alias("cnt"))
    r = cc.select(
        "cnt",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.col("cnt").desc(), F.col("c")))
        .alias("rnk"),
    )
    b = r.select(
        F.when(F.col("rnk") <= 10, 1)
        .when(F.col("rnk") <= 20, 11)
        .when(F.col("rnk") <= 50, 21)
        .when(F.col("rnk") <= 100, 51)
        .otherwise(101)
        .cast("int")
        .alias("rank_band"),
        "cnt",
    )
    g = b.groupBy("rank_band").agg(
        F.count(F.lit(1)).alias("n_chars"),
        F.sum("cnt").cast("bigint").alias("char_mass"),
    )
    return g.select(
        "rank_band",
        "n_chars",
        "char_mass",
        F.expr(
            "sum(char_mass) over (order by rank_band rows unbounded preceding)"
            " * 1000000 div sum(char_mass) over ()"
        ).alias("cum_ppm"),
    )


# ---------------------------------------------------------------------------
# Exact KS statistic per source (length distributions)
# ---------------------------------------------------------------------------


@_register(
    "length_ks_by_source",
    """
WITH d AS (
  SELECT source, length(text) AS v FROM documents
), sv AS (
  SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2
), st AS (
  SELECT source, CAST(SUM(cnt) AS BIGINT) AS ns FROM sv GROUP BY source
), vv AS (
  SELECT DISTINCT v FROM d
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM d
), cv AS (
  SELECT v, CAST(SUM(cnt) AS BIGINT) AS ccnt FROM sv GROUP BY v
), ccum AS (
  SELECT v, SUM(ccnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_c
  FROM cv
), spine AS (
  SELECT st.source, st.ns, vv.v FROM st CROSS JOIN vv
), scum AS (
  SELECT sp.source, sp.ns, sp.v,
         SUM(COALESCE(sv.cnt, 0)) OVER (PARTITION BY sp.source ORDER BY sp.v
                                        ROWS UNBOUNDED PRECEDING) AS cum_s
  FROM spine sp LEFT JOIN sv ON sp.source = sv.source AND sp.v = sv.v
), diff AS (
  SELECT s.source, s.ns, s.v,
         abs(s.cum_s * (t.nn - s.ns) - (c.cum_c - s.cum_s) * s.ns) AS dd
  FROM scum s JOIN ccum c ON s.v = c.v CROSS JOIN tot t
), mx AS (
  SELECT source, MAX(ns) AS ns, MAX(dd) AS mdd FROM diff GROUP BY source
)
SELECT mx.source, CAST(mx.ns AS BIGINT) AS n_docs,
       CAST(mx.mdd * 1000000 // (mx.ns * ((SELECT nn FROM tot) - mx.ns))
            AS BIGINT) AS ks_ppm,
       CAST(MIN(diff.v) AS BIGINT) AS ks_at_len
FROM mx JOIN diff ON mx.source = diff.source AND mx.mdd = diff.dd
GROUP BY mx.source, mx.ns, mx.mdd
""",
    doc="Exact two-sample Kolmogorov-Smirnov statistic per source vs the "
    "REST of the corpus over doc-length distributions: D = max_v "
    "|F_s(v) - F_rest(v)|, computed as the integer cross-"
    "multiplication |cum_s*n_r - cum_r*n_s| (never a float CDF), "
    "emitted in ppm of n_s*n_r with the argmax length (min on ties) — "
    "the drift detector for 'does this source even look like the "
    "blend'. The value spine is sources x distinct-lengths (bounded: "
    "lengths are data-bounded, sources ~20); cumulative sums are two "
    "window passes.",
)
def length_ks_by_source(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    d = docs.select("source", F.length("text").cast("bigint").alias("v"))
    sv = d.groupBy("source", "v").agg(F.count(F.lit(1)).alias("cnt"))
    st = sv.groupBy("source").agg(F.sum("cnt").alias("ns"))
    vv = d.select("v").distinct()
    tot = d.agg(F.count(F.lit(1)).alias("nn"))
    cv = sv.groupBy("v").agg(F.sum("cnt").alias("ccnt"))
    wv = Window.partitionBy().orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ccum = cv.select("v", F.sum("ccnt").over(wv).alias("cum_c"))
    spine = st.crossJoin(F.broadcast(vv))
    ws = Window.partitionBy("source").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    scum = (
        spine.join(sv, ["source", "v"], "left")
        .select(
            "source",
            "ns",
            "v",
            F.coalesce("cnt", F.lit(0)).alias("cnt0"),
        )
        .select(
            "source", "ns", "v", F.sum("cnt0").over(ws).alias("cum_s")
        )
    )
    diff = (
        scum.join(F.broadcast(ccum), "v")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "ns",
            "v",
            F.abs(
                F.col("cum_s") * (F.col("nn") - F.col("ns"))
                - (F.col("cum_c") - F.col("cum_s")) * F.col("ns")
            ).alias("dd"),
            "nn",
        )
    )
    mx = diff.groupBy("source").agg(
        F.max("ns").alias("ns"), F.max("dd").alias("mdd"), F.max("nn").alias("nn")
    )
    return (
        mx.join(
            diff.select(F.col("source").alias("src2"), "dd", "v"),
            (F.col("source") == F.col("src2")) & (F.col("mdd") == F.col("dd")),
        )
        .groupBy("source", "ns", "mdd", "nn")
        .agg(F.min("v").alias("ks_at_len"))
        .select(
            "source",
            F.col("ns").cast("bigint").alias("n_docs"),
            F.expr("mdd * 1000000 div (ns * (nn - ns))")
            .cast("bigint")
            .alias("ks_ppm"),
            F.col("ks_at_len").cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round10 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# unigram LM surprisal — the perplexity-proxy quality dial
# ---------------------------------------------------------------------------

# Shared CTE: per-doc mean unigram surprisal in millibits/token.
# Token surprisal = floor(log2(T / c)) whole bits where T = corpus token
# instances, c = the token's corpus count (T div c >= 1 always).
_SURP_CTE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), inst AS (
  SELECT doc_id, source, unnest(w) AS tok FROM toks
), wc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY tok
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM inst
), bits AS (
  SELECT i.doc_id, i.source,
         CAST(length(bin((SELECT t FROM tt) // wc.c)) - 1 AS BIGINT) AS b
  FROM inst i JOIN wc USING (tok)
), sc AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(b) * 1000 // COUNT(*) AS BIGINT) AS millibits
  FROM bits GROUP BY doc_id, source
)
"""


def _doc_surprisal(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tok, millibits) — per-doc mean unigram
    surprisal in millibits/token, exact integers end to end. Two
    token-keyed shuffles (count + instance join) and one doc-grain
    aggregate; the corpus-total rides a broadcast 1-row cross join."""
    from cve_manager_spark.operators.text import words

    toks = docs.select(
        "doc_id", "source", words(F.lower(F.col("text"))).alias("w")
    )
    inst = toks.select("doc_id", "source", F.explode("w").alias("tok"))
    wc = inst.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tt = inst.groupBy().agg(F.count(F.lit(1)).alias("t"))
    bits = (
        inst.join(wc, "tok")
        .crossJoin(F.broadcast(tt))
        .select(
            "doc_id",
            "source",
            (F.length(F.bin(F.expr("t div c"))) - 1).cast("bigint").alias("b"),
        )
    )
    return bits.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.expr("CAST(sum(b) * 1000 div count(1) AS BIGINT)").alias("millibits"),
    )


@_register(
    "unigram_surprisal_bands",
    _SURP_CTE
    + """
SELECT source, CAST(millibits // 100 AS BIGINT) AS band,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sc GROUP BY source, band
""",
    doc="Per-source histogram of per-doc mean unigram surprisal "
    "(0.1-bit bands of millibits/token) — the n-gram-LM perplexity-proxy "
    "quality profile next to the linear classifier: low-surprisal "
    "bands are repetitive/boilerplate-heavy sources, high bands are "
    "rare-token/noise-heavy ones. Surprisal is integer log2 via "
    "binary-string length (floor(log2(T div c)) = length(bin(..))-1), "
    "so the whole dial is exact integers: two token-keyed shuffles + "
    "one doc aggregate, the corpus total a broadcast scalar.",
)
def unigram_surprisal_bands(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    sc = _doc_surprisal(docs)
    return sc.select(
        "source", F.expr("CAST(millibits div 100 AS BIGINT)").alias("band")
    ).groupBy("source", "band").agg(F.count(F.lit(1)).alias("n_docs"))


_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
           i -> struct_pack(b1 := w[i], b2 := w[i+1]))) AS u
  FROM toks WHERE len(w) >= 2
), i2 AS (
  SELECT doc_id, u.b1 AS b1, u.b2 AS b2 FROM bg
), c2 AS (
  SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c FROM i2 GROUP BY b1, b2
), c1 AS (
  SELECT b1, CAST(SUM(c) AS BIGINT) AS cp FROM c2 GROUP BY b1
), bb AS (
  SELECT i2.doc_id,
         CAST(length(bin(c1.cp // c2.c)) - 1 AS BIGINT) AS b
  FROM i2 JOIN c2 USING (b1, b2) JOIN c1 USING (b1)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(b) * 1000 // COUNT(*) AS BIGINT) AS ppl_millibits
FROM bb GROUP BY doc_id
"""


@_register(
    "bigram_surprisal_score",
    _BIGRAM_ORACLE,
    doc="Per-doc mean CONDITIONAL bigram surprisal in millibits/bigram — "
    "a true 2-gram LM perplexity proxy: surprisal of (w1,w2) is "
    "floor(log2(c(w1·) div c(w1,w2))) whole bits against the corpus "
    "bigram LM, integer-exact via binary length. The prefix count "
    "c(w1·) reaggregates from the bigram counts (never a second corpus "
    "pass); bigrams are built IN-ROW (indexed transform over the token "
    "array, no self-join), so the plan is one pair-keyed count + one "
    "instance join + a doc aggregate.",
)
def bigram_surprisal_score(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("w"))
    pairs = F.transform(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        lambda x, i: F.struct(
            x.alias("b1"),
            F.element_at(F.col("w"), i + F.lit(2)).alias("b2"),
        ),
    )
    i2 = (
        toks.where(F.size("w") >= 2)
        .select("doc_id", F.explode(pairs).alias("u"))
        .select("doc_id", F.col("u.b1").alias("b1"), F.col("u.b2").alias("b2"))
    )
    c2 = i2.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c2.groupBy("b1").agg(F.sum("c").alias("cp"))
    bb = (
        i2.join(c2, ["b1", "b2"])
        .join(c1, "b1")
        .select(
            "doc_id",
            (F.length(F.bin(F.expr("cp div c"))) - 1).cast("bigint").alias("b"),
        )
    )
    return bb.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.expr("CAST(sum(b) * 1000 div count(1) AS BIGINT)").alias(
            "ppl_millibits"
        ),
    )


def _surprisal_quality_oracle() -> str:
    from cve_manager_spark.plans.corpus import (
        _QUALITY_EXPR_SQL,
        _QUALITY_SCORE_SQL,
    )

    return (
        _SURP_CTE
        + ", f AS ("
        + _QUALITY_EXPR_SQL
        + "), qs AS ("
        + _QUALITY_SCORE_SQL
        + """
), ql AS (
  SELECT doc_id,
         CASE WHEN score >= 600000 THEN 'high'
              WHEN score >= 300000 THEN 'mid'
              ELSE 'low' END AS label
  FROM qs
)
SELECT CAST(sc.millibits // 100 AS BIGINT) AS band, ql.label,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM sc JOIN ql USING (doc_id)
GROUP BY band, ql.label
"""
    )


@_register(
    "surprisal_quality_matrix",
    _surprisal_quality_oracle(),
    doc="Co-occurrence of the LM surprisal band × the linear quality-"
    "classifier label — the calibration check run before wiring either "
    "dial into a filter: if 'high'-quality docs concentrate in the "
    "same surprisal bands as 'low', the two signals are independent "
    "and compose; if they collapse onto a diagonal, one is redundant. "
    "Both sides are exact integers; the join is doc-keyed.",
)
def surprisal_quality_matrix(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _quality_scored

    docs = fan_out(load_table(spark, sf, "documents"))
    sc = _doc_surprisal(docs).select(
        "doc_id", F.expr("CAST(millibits div 100 AS BIGINT)").alias("band")
    )
    ql = _quality_scored(docs).select("doc_id", "label")
    return sc.join(ql, "doc_id").groupBy("band", "label").agg(
        F.count(F.lit(1)).alias("n_docs")
    )


@_register(
    "perplexity_filter_rate",
    _SURP_CTE
    + """
SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN millibits <= 4030 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pass,
       CAST(SUM(CASE WHEN millibits <= 4030 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS pass_ppm
FROM sc GROUP BY source
""",
    doc="The filter face of the surprisal dial: per source, how many "
    "docs pass a mean-surprisal threshold (the 'drop the high-"
    "perplexity tail' cut a perplexity filter applies), as count + "
    "exact ppm. The 4030-millibit threshold sits at the test corpus's "
    "median so both branches carry real counts (a production cut is "
    "picked off the unigram_surprisal_bands histogram the same way). "
    "Reads the same integer surprisal pipeline; the threshold "
    "compares millibits, so no rounding ambiguity.",
)
def perplexity_filter_rate(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    sc = _doc_surprisal(docs)
    passed = F.when(F.col("millibits") <= 4030, 1).otherwise(0)
    return sc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(passed).cast("bigint").alias("n_pass"),
        F.expr(
            "CAST(sum(CASE WHEN millibits <= 4030 THEN 1 ELSE 0 END) "
            "* 1000000 div count(1) AS BIGINT)"
        ).alias("pass_ppm"),
    )


@_register(
    "surprisal_contamination_interaction",
    _SURP_CTE
    + """
, ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM toks WHERE len(w) >= 3
), ev AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
), ov AS (
  SELECT e.doc_id,
         MAX(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS hit
  FROM ex e LEFT JOIN ev ON e.s = ev.s
  WHERE e.doc_id % 97 <> 0
  GROUP BY e.doc_id
)
SELECT CAST(ov.hit AS INTEGER) AS is_contaminated,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(sc.millibits) AS BIGINT) AS sum_millibits,
       CAST(SUM(sc.millibits) // COUNT(*) AS BIGINT) AS mean_millibits
FROM sc JOIN ov USING (doc_id)
GROUP BY is_contaminated
""",
    doc="Does eval-set contamination correlate with LM surprisal? Mean "
    "surprisal of training docs sharing at least one 3-gram shingle "
    "with the held-out set vs clean docs — contaminated text is "
    "usually templated/low-surprisal, which is why decontamination "
    "and perplexity filtering remove OVERLAPPING but not identical "
    "doc sets (running only one under-cleans). Composition face: the "
    "broadcast eval probe from eval_overlap_score joined doc-grain "
    "onto the surprisal relation, two exact-integer aggregates.",
)
def surprisal_contamination_interaction(
    spark: SparkSession, sf: str
) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_ngram_windows

    docs = fan_out(load_table(spark, sf, "documents"))
    sc = _doc_surprisal(docs)
    ex = docs.select(
        "doc_id", F.explode(word_ngram_windows(F.col("text"), 3)).alias("s")
    )
    ev = (
        ex.where(F.col("doc_id") % 97 == 0)
        .select("s")
        .distinct()
        .withColumn("is_ev", F.lit(1))
    )
    ov = (
        ex.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "s", "left")
        .groupBy("doc_id")
        .agg(F.max(F.coalesce("is_ev", F.lit(0))).alias("hit"))
    )
    # INT flag, not boolean: no green spec has ever emitted a boolean
    # column through the driver canonicalizer (the r6 array-cell lesson —
    # don't make a staged tranche the first to probe it)
    return (
        sc.join(ov, "doc_id")
        .groupBy(F.col("hit").cast("int").alias("is_contaminated"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("millibits").cast("bigint").alias("sum_millibits"),
            F.expr("CAST(sum(millibits) div count(1) AS BIGINT)").alias(
                "mean_millibits"
            ),
        )
    )


# ---------------------------------------------------------------------------
# quality-weighted importance sampling
# ---------------------------------------------------------------------------


def _importance_oracle() -> str:
    from cve_manager_spark.plans.corpus import (
        _QUALITY_EXPR_SQL,
        _QUALITY_SCORE_SQL,
    )
    from cve_manager_spark.plans.corpus import _BUCKET_DUCK

    return (
        "WITH f AS ("
        + _QUALITY_EXPR_SQL
        + "), qs AS ("
        + _QUALITY_SCORE_SQL
        + f"""
), ql AS (
  SELECT doc_id, source,
         CASE WHEN score >= 600000 THEN 'high'
              WHEN score >= 300000 THEN 'mid'
              ELSE 'low' END AS label,
         ({_BUCKET_DUCK}) AS bucket
  FROM qs
), kp AS (
  SELECT *, CASE label WHEN 'high' THEN 256 WHEN 'mid' THEN 128
                       ELSE 32 END AS keep_256
  FROM ql
)
SELECT source, label, CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN bucket < keep_256 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_kept,
       CAST(SUM(CASE WHEN bucket < keep_256 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS kept_ppm
FROM kp GROUP BY source, label
"""
    )


@_register(
    "quality_importance_sample",
    _importance_oracle(),
    doc="Deterministic quality-weighted importance sampling (the DoReMi/"
    "quality-resampling shape): per quality label a fixed keep rate "
    "(high keeps all 256/256 hash buckets, mid 128, low 32), applied "
    "by the shared md5 hex-digit bucket of doc_id — so the SAMPLE is "
    "a pure row predicate, reproducible across engines, reruns and "
    "partitionings, and composable with the split assigner (different "
    "digest positions). Emits per (source, label) total/kept/ppm. "
    "Zero shuffles beyond the final small aggregate.",
)
def quality_importance_sample(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _quality_scored
    from cve_manager_spark.plans.corpus import _BUCKET_SPARK

    docs = fan_out(load_table(spark, sf, "documents"))
    s = _quality_scored(docs)
    kp = s.select(
        "source",
        "label",
        F.expr(_BUCKET_SPARK).alias("bucket"),
        F.when(F.col("label") == "high", 256)
        .when(F.col("label") == "mid", 128)
        .otherwise(32)
        .alias("keep_256"),
    )
    kept = F.when(F.col("bucket") < F.col("keep_256"), 1).otherwise(0)
    return kp.groupBy("source", "label").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(kept).cast("bigint").alias("n_kept"),
        F.expr(
            "CAST(sum(CASE WHEN bucket < keep_256 THEN 1 ELSE 0 END) "
            "* 1000000 div count(1) AS BIGINT)"
        ).alias("kept_ppm"),
    )


# ---------------------------------------------------------------------------
# distribution diagnostics: Zipf band slope, trigram novelty
# ---------------------------------------------------------------------------

_ZIPF_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), inst AS (
  SELECT source, unnest(w) AS tok FROM toks
), wc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY source, tok
), bands AS (
  SELECT source, CAST(length(bin(c)) - 1 AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM wc GROUP BY source, x
), pts AS (
  SELECT source, x, CAST(length(bin(m)) - 1 AS BIGINT) AS y FROM bands
), s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY source
)
SELECT source, n AS n_bands,
       CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
            ELSE (n * sxy - sx * sy) * 1000 // (n * sxx - sx * sx) END
            AS BIGINT) AS slope_milli
FROM s
"""


@_register(
    "zipf_band_slope_by_source",
    _ZIPF_ORACLE,
    doc="Zipf power-law exponent per source, estimated WITHOUT a global "
    "rank sort: bucket the word-frequency table by floor(log2(count)) "
    "(binary length — exact integers), take y = floor(log2(#words in "
    "band)), and fit the OLS slope over the <= ~40 (x, y) band points "
    "in exact integer arithmetic, emitted as a trunc-div milli-slope. "
    "A natural corpus sits near slope -1; a flat or bimodal profile "
    "flags templated/synthetic text. The expensive step is ONE "
    "(source, word)-keyed count; the fit itself touches only band "
    "rows — the histogram-not-sort discipline (quality_score_deciles) "
    "applied to vocabulary statistics.",
)
def zipf_band_slope_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    inst = docs.select(
        "source", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    wc = inst.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    bands = wc.select(
        "source", (F.length(F.bin("c")) - 1).cast("bigint").alias("x")
    ).groupBy("source", "x").agg(F.count(F.lit(1)).alias("m"))
    pts = bands.select(
        "source", "x", (F.length(F.bin("m")) - 1).cast("bigint").alias("y")
    )
    s = pts.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        "source",
        F.col("n").alias("n_bands"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0 "
            "ELSE (n * sxy - sx * sy) * 1000 div (n * sxx - sx * sx) END "
            "AS BIGINT)"
        ).alias("slope_milli"),
    )


_TRIGRAM_NOVELTY_ORACLE = """
WITH toks AS (
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), tri AS (
  SELECT DISTINCT source,
         md5(unnest(list_transform(range(1, len(w) - 1),
           i -> array_to_string(w[i:i+2], ' ')))) AS g
  FROM toks WHERE len(w) >= 3
), gc AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS ns FROM tri GROUP BY g
)
SELECT tri.source, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
       CAST(SUM(CASE WHEN gc.ns = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_unique,
       CAST(SUM(CASE WHEN gc.ns = 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS unique_ppm
FROM tri JOIN gc USING (g)
GROUP BY tri.source
"""


@_register(
    "trigram_novelty_by_source",
    _TRIGRAM_NOVELTY_ORACLE,
    doc="Per source: how much of its distinct trigram vocabulary appears "
    "in NO other source — the uniqueness/contamination diagnostic "
    "(near-1 ppm = genuinely novel text, low ppm = the source restates "
    "the rest of the corpus and near-dup passes will collapse it). "
    "Trigrams travel as md5 digests so the shuffle key is fixed-width "
    "(16 bytes, never a long n-gram string); one digest-keyed "
    "source-count + one join back — the same two-aggregate shape as "
    "split_dup_leakage at trigram grain.",
)
def trigram_novelty_by_source(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_ngram_windows

    docs = fan_out(load_table(spark, sf, "documents"))
    tri = (
        docs.select(
            "source", F.explode(word_ngram_windows(F.col("text"), 3)).alias("s")
        )
        .select("source", F.md5("s").alias("g"))
        .distinct()
    )
    gc = tri.groupBy("g").agg(F.count(F.lit(1)).alias("ns"))
    uniq = F.when(F.col("ns") == 1, 1).otherwise(0)
    return tri.join(gc, "g").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.sum(uniq).cast("bigint").alias("n_unique"),
        F.expr(
            "CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) * 1000000 "
            "div count(1) AS BIGINT)"
        ).alias("unique_ppm"),
    )


# ---------------------------------------------------------------------------
# scored decontamination: per-doc eval-overlap ppm
# ---------------------------------------------------------------------------

_EVAL_OVERLAP_ORACLE = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), ex AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
           i -> array_to_string(w[i:i+2], ' '))) AS s
  FROM toks WHERE len(w) >= 3
), ev AS (
  SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
)
SELECT e.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_hits,
       CAST(SUM(CASE WHEN ev.s IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS overlap_ppm
FROM ex e LEFT JOIN ev ON e.s = ev.s
WHERE e.doc_id % 97 <> 0
GROUP BY e.doc_id
"""


@_register(
    "eval_overlap_score",
    _EVAL_OVERLAP_ORACLE,
    doc="SCORED decontamination (the graded dial next to the binary "
    "decontaminate_ngram and span-grain decontaminate_spans): per "
    "training doc, the exact fraction (ppm) of its 3-gram positions "
    "whose shingle appears in the held-out set (doc_id %% 97 == 0) — "
    "pipelines drop docs above ~80% overlap but only REDACT spans "
    "below it, so the score, not just the flag, is the operational "
    "signal. Zero-hit docs are kept (LEFT join against the broadcast "
    "eval set); shingles are built in-row, so the plan is one "
    "broadcast probe + a doc-grain aggregate.",
)
def eval_overlap_score(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_ngram_windows

    docs = fan_out(load_table(spark, sf, "documents"))
    # r14: all-window trigrams via the one-pass lookahead regex (same
    # strings, same order; explode of the empty array drops short docs
    # exactly like the old size(w) >= 3 guard) — the interpreted
    # transform/slice/concat_ws form measured ~20x slower per the
    # word_shingles lesson (guide §1.2: per-task work)
    ex = docs.select(
        "doc_id", F.explode(word_ngram_windows(F.col("text"), 3)).alias("s")
    )
    ev = (
        ex.where(F.col("doc_id") % 97 == 0)
        .select("s")
        .distinct()
        .withColumn("is_ev", F.lit(1))
    )
    hit = F.coalesce(F.col("is_ev"), F.lit(0))
    return (
        ex.where(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(ev), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(hit).cast("bigint").alias("n_hits"),
            F.expr(
                "CAST(sum(coalesce(is_ev, 0)) * 1000000 div count(1) "
                "AS BIGINT)"
            ).alias("overlap_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round10b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

_TOKS = """
  SELECT doc_id, source,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
"""


# ---------------------------------------------------------------------------
# backoff bigram LM + surprisal interactions
# ---------------------------------------------------------------------------

_BACKOFF_ORACLE = f"""
WITH toks AS ({_TOKS}), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w)),
           i -> struct_pack(b1 := w[i], b2 := w[i+1]))) AS u
  FROM toks WHERE len(w) >= 2
), i2 AS (
  SELECT doc_id, u.b1 AS b1, u.b2 AS b2 FROM bg
), c2 AS (
  SELECT b1, b2, CAST(COUNT(*) AS BIGINT) AS c FROM i2 GROUP BY b1, b2
), c1 AS (
  SELECT b1, CAST(SUM(c) AS BIGINT) AS cp FROM c2 GROUP BY b1
), inst AS (
  SELECT doc_id, unnest(w) AS tok FROM toks
), wc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY tok
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM inst
), bb AS (
  SELECT i2.doc_id,
         CASE WHEN c2.c >= 2
              THEN CAST(length(bin(c1.cp // c2.c)) - 1 AS BIGINT)
              ELSE CAST(length(bin((SELECT t FROM tt) // wc.c)) + 1 AS BIGINT)
         END AS b,
         CASE WHEN c2.c >= 2 THEN 0 ELSE 1 END AS backed
  FROM i2 JOIN c2 USING (b1, b2) JOIN c1 USING (b1)
       JOIN wc ON wc.tok = i2.b2
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(backed) AS BIGINT) AS n_backoff,
       CAST(SUM(b) * 1000 // COUNT(*) AS BIGINT) AS ppl_millibits
FROM bb GROUP BY doc_id
"""


@_register(
    "bigram_backoff_surprisal",
    _BACKOFF_ORACLE,
    doc="Backoff bigram LM scoring — the production-shaped sibling of "
    "bigram_surprisal_score: a bigram seen >= 2 times scores its "
    "conditional surprisal floor(log2(c(w1.) div c(w1,w2))); a rare "
    "bigram (count 1 == only this occurrence) BACKS OFF to the "
    "unigram surprisal of w2 plus a fixed 2-bit penalty (the "
    "stupid-backoff shape with an integer penalty instead of a float "
    "alpha). Emits per doc the bigram count, how many backed off, and "
    "mean millibits — still pure integer log2 via binary length, so "
    "the interpolated score hash-verifies. Joins: bigram counts, "
    "prefix counts (reaggregated from bigram counts), unigram counts.",
)
def bigram_backoff_surprisal(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("w"))
    pairs = F.transform(
        F.slice(F.col("w"), 1, F.size("w") - 1),
        lambda x, i: F.struct(
            x.alias("b1"),
            F.element_at(F.col("w"), i + F.lit(2)).alias("b2"),
        ),
    )
    i2 = (
        toks.where(F.size("w") >= 2)
        .select("doc_id", F.explode(pairs).alias("u"))
        .select("doc_id", F.col("u.b1").alias("b1"), F.col("u.b2").alias("b2"))
    )
    c2 = i2.groupBy("b1", "b2").agg(F.count(F.lit(1)).alias("c"))
    c1 = c2.groupBy("b1").agg(F.sum("c").alias("cp"))
    inst = toks.select(F.explode("w").alias("tok"))
    wc = inst.groupBy("tok").agg(F.count(F.lit(1)).alias("cu"))
    tt = inst.groupBy().agg(F.count(F.lit(1)).alias("t"))
    joined = (
        i2.join(c2, ["b1", "b2"])
        .join(c1, "b1")
        .join(wc, F.col("b2") == F.col("tok"))
        .crossJoin(F.broadcast(tt))
    )
    bits = F.when(
        F.col("c") >= 2,
        (F.length(F.bin(F.expr("cp div c"))) - 1).cast("bigint"),
    ).otherwise((F.length(F.bin(F.expr("t div cu"))) + 1).cast("bigint"))
    backed = F.when(F.col("c") >= 2, 0).otherwise(1)
    bb = joined.select("doc_id", bits.alias("b"), backed.alias("backed"))
    return bb.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("backed").cast("bigint").alias("n_backoff"),
        F.expr("CAST(sum(b) * 1000 div count(1) AS BIGINT)").alias(
            "ppl_millibits"
        ),
    )


_STOPSPLIT_ORACLE = f"""
WITH toks AS ({_TOKS}), inst AS (
  SELECT source, unnest(w) AS tok FROM toks
), wc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY tok
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM inst
), bits AS (
  SELECT i.source,
         CASE WHEN list_contains(['the','a','an','of','and','to','in','is',
                                  'it','that'], i.tok) THEN 1 ELSE 0 END AS stop,
         CAST(length(bin((SELECT t FROM tt) // wc.c)) - 1 AS BIGINT) AS b
  FROM inst i JOIN wc USING (tok)
)
SELECT source,
       CAST(SUM(stop) AS BIGINT) AS n_stop_tok,
       CAST(CASE WHEN SUM(stop) = 0 THEN 0
            ELSE SUM(CASE WHEN stop = 1 THEN b ELSE 0 END) * 1000 // SUM(stop)
            END AS BIGINT) AS stop_millibits,
       CAST(SUM(1 - stop) AS BIGINT) AS n_content_tok,
       CAST(CASE WHEN SUM(1 - stop) = 0 THEN 0
            ELSE SUM(CASE WHEN stop = 0 THEN b ELSE 0 END) * 1000
                 // SUM(1 - stop) END AS BIGINT) AS content_millibits
FROM bits GROUP BY source
"""


@_register(
    "stopword_surprisal_split",
    _STOPSPLIT_ORACLE,
    doc="Two-channel LM diagnostic: per source, mean unigram surprisal "
    "computed separately over stopword and content tokens. A source "
    "whose CONTENT channel is low-surprisal is templated even if its "
    "stopword channel looks normal — the split localizes what a "
    "blended perplexity score averages away. Same integer-log2 "
    "pipeline; the channel flag is the shared 10-word stopword list.",
)
def stopword_surprisal_split(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import _is_stopword, words

    docs = fan_out(load_table(spark, sf, "documents"))
    inst = docs.select(
        "source", F.explode(words(F.lower(F.col("text")))).alias("tok")
    )
    wc = inst.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tt = inst.groupBy().agg(F.count(F.lit(1)).alias("t"))
    bits = (
        inst.join(wc, "tok")
        .crossJoin(F.broadcast(tt))
        .select(
            "source",
            F.when(_is_stopword(F.col("tok")), 1).otherwise(0).alias("stop"),
            (F.length(F.bin(F.expr("t div c"))) - 1).cast("bigint").alias("b"),
        )
    )
    return bits.groupBy("source").agg(
        F.sum("stop").cast("bigint").alias("n_stop_tok"),
        F.expr(
            "CAST(CASE WHEN sum(stop) = 0 THEN 0 ELSE "
            "sum(CASE WHEN stop = 1 THEN b ELSE 0 END) * 1000 div sum(stop) "
            "END AS BIGINT)"
        ).alias("stop_millibits"),
        F.sum(1 - F.col("stop")).cast("bigint").alias("n_content_tok"),
        F.expr(
            "CAST(CASE WHEN sum(1 - stop) = 0 THEN 0 ELSE "
            "sum(CASE WHEN stop = 0 THEN b ELSE 0 END) * 1000 "
            "div sum(1 - stop) END AS BIGINT)"
        ).alias("content_millibits"),
    )


_CORR_ORACLE = f"""
WITH toks AS ({_TOKS}), inst AS (
  SELECT doc_id, source, unnest(w) AS tok FROM toks
), wc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM inst GROUP BY tok
), tt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS t FROM inst
), bits AS (
  SELECT i.doc_id, i.source,
         CAST(length(bin((SELECT t FROM tt) // wc.c)) - 1 AS BIGINT) AS b
  FROM inst i JOIN wc USING (tok)
), d AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS x,
         CAST(SUM(b) * 1000 // COUNT(*) AS BIGINT) AS y
  FROM bits GROUP BY doc_id, source
)
SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
       CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
            AS DOUBLE) AS sxy,
       CAST(CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))
            AS DOUBLE) AS sxx,
       CAST(CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))
            AS DOUBLE) AS syy
FROM d GROUP BY source
"""


@_register(
    "corr_surprisal_length",
    _CORR_ORACLE,
    doc="Sufficient statistics for the per-source correlation between "
    "doc length (tokens) and mean surprisal (millibits/token): n, Sx, "
    "Sy exact BIGINT, and the second moments Sxy/Sxx/Syy folded as "
    "DECIMAL(38,0) (x^2 at 1e5-token docs times 1e12 docs wraps "
    "BIGINT) emitted via the one-final-double-cast convention. "
    "Downstream computes r = (nSxy-SxSy)/sqrt(...) — the sqrt stays "
    "out of the engine so the emitted relation is exact.",
)
def corr_surprisal_length(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.corpus import _doc_surprisal

    docs = fan_out(load_table(spark, sf, "documents"))
    d = _doc_surprisal(docs).select(
        "source", F.col("n_tok").alias("x"), F.col("millibits").alias("y")
    )
    dx = F.col("x").cast("decimal(38,0)")
    dy = F.col("y").cast("decimal(38,0)")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(dx * F.col("y")).cast("double").alias("sxy"),
        F.sum(dx * F.col("x")).cast("double").alias("sxx"),
        F.sum(dy * F.col("y")).cast("double").alias("syy"),
    )


# ---------------------------------------------------------------------------
# token-segment boilerplate dedup + survivorship attribution
# ---------------------------------------------------------------------------

_SEGMENTS = f"""
WITH toks AS ({_TOKS}), seg AS (
  SELECT doc_id, source,
         md5(unnest(list_transform(range(0, CAST(len(w) // 8 AS INTEGER)),
           i -> array_to_string(w[i*8+1:i*8+8], ' ')))) AS g
  FROM toks WHERE len(w) >= 8
), gc AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM seg GROUP BY g
)
"""


@_register(
    "segment_dedup_savings",
    _SEGMENTS
    + """
SELECT seg.source, CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(SUM(CASE WHEN gc.n >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_segments,
       CAST(SUM(CASE WHEN gc.n >= 2 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS dup_ppm
FROM seg JOIN gc USING (g)
GROUP BY seg.source
""",
    doc="Token-segment (paragraph-proxy) boilerplate savings: documents "
    "are cut into NON-overlapping 8-token segments (the line/paragraph "
    "dedup grain of public web pipelines, transposed to a corpus "
    "without newlines), and each source reports how many of its "
    "segment OCCURRENCES repeat anywhere in the corpus — the token "
    "mass a segment-grain dedup pass would reclaim. Segments travel "
    "as md5 digests (fixed-width shuffle key); one digest-keyed count "
    "+ one join back. Complements char_window_xdoc (overlapping "
    "char-grain windows, leakage framing) with the non-overlapping "
    "token grain and savings framing.",
)
def segment_dedup_savings(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select(
        "doc_id", "source", words(F.lower(F.col("text"))).alias("w")
    )
    segs = F.transform(
        F.sequence(F.lit(0), (F.size("w") / 8).cast("int") - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("w"), i * 8 + 1, 8))
        ),
    )
    seg = toks.where(F.size("w") >= 8).select(
        "doc_id", "source", F.explode(segs).alias("g")
    )
    gc = seg.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    dup = F.when(F.col("n") >= 2, 1).otherwise(0)
    return seg.join(gc, "g").groupBy("source").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(dup).cast("bigint").alias("n_dup_segments"),
        F.expr(
            "CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) * 1000000 "
            "div count(1) AS BIGINT)"
        ).alias("dup_ppm"),
    )


@_register(
    "boilerplate_segments_topk",
    _SEGMENTS
    + """
, occ AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM seg GROUP BY g
)
SELECT g, n_occurrences, n_docs FROM occ
ORDER BY n_occurrences DESC, g LIMIT 20
""",
    doc="The 20 most-repeated 8-token segments corpus-wide (by "
    "occurrence count, digest tie-break) — the candidate boilerplate "
    "list a pipeline reviews before turning segment dedup on. Top-20 "
    "via orderBy().limit() = TakeOrderedAndProject (the "
    "split_drift_topwords lesson: never a row_number window over the "
    "segment-vocabulary relation, which is corpus-sized at 100 TB).",
)
def boilerplate_segments_topk(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    toks = docs.select("doc_id", words(F.lower(F.col("text"))).alias("w"))
    segs = F.transform(
        F.sequence(F.lit(0), (F.size("w") / 8).cast("int") - 1),
        lambda i: F.md5(
            F.concat_ws(" ", F.slice(F.col("w"), i * 8 + 1, 8))
        ),
    )
    seg = toks.where(F.size("w") >= 8).select(
        "doc_id", F.explode(segs).alias("g")
    )
    occ = seg.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_occurrences"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
    )
    return occ.orderBy(F.col("n_occurrences").desc(), "g").limit(20)


_SURVIVOR_ORACLE = f"""
WITH toks AS ({_TOKS}), pf AS (
  SELECT doc_id, source, md5(array_to_string(w[1:16], ' ')) AS g
  FROM toks WHERE len(w) >= 16
), keep AS (
  SELECT g, MIN(doc_id) AS keeper FROM pf GROUP BY g
), ks AS (
  SELECT keep.g, keep.keeper, pf.source AS keeper_source
  FROM keep JOIN pf ON pf.doc_id = keep.keeper
)
SELECT pf.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN pf.doc_id <> ks.keeper THEN 1 ELSE 0 END) AS BIGINT)
         AS n_lost,
       CAST(SUM(CASE WHEN pf.doc_id <> ks.keeper
                      AND pf.source <> ks.keeper_source
                THEN 1 ELSE 0 END) AS BIGINT) AS n_lost_cross_source
FROM pf JOIN ks USING (g)
GROUP BY pf.source
"""


@_register(
    "dedup_survivorship_bias",
    _SURVIVOR_ORACLE,
    doc="Survivorship attribution for prefix dedup: group docs by their "
    "16-token prefix digest, keep the lowest doc_id, and report per "
    "source how many docs are lost — and how many are lost TO A "
    "KEEPER FROM A DIFFERENT SOURCE. Cross-source loss is the dedup "
    "bias a mix designer must re-weight for: keep-first silently "
    "shifts token share toward whichever source tends to hold the "
    "lowest ids (usually the earliest-crawled). One digest aggregate "
    "+ one keeper join.",
)
def dedup_survivorship_bias(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.text import words

    docs = fan_out(load_table(spark, sf, "documents"))
    pf = (
        docs.select(
            "doc_id", "source", words(F.lower(F.col("text"))).alias("w")
        )
        .where(F.size("w") >= 16)
        .select(
            "doc_id",
            "source",
            F.md5(F.concat_ws(" ", F.slice("w", 1, 16))).alias("g"),
        )
    )
    keep = pf.groupBy("g").agg(F.min("doc_id").alias("keeper"))
    ks = keep.join(
        pf.select(F.col("doc_id").alias("keeper"),
                  F.col("source").alias("keeper_source")),
        "keeper",
    )
    j = pf.join(ks, "g")
    lost = F.when(F.col("doc_id") != F.col("keeper"), 1).otherwise(0)
    cross = F.when(
        (F.col("doc_id") != F.col("keeper"))
        & (F.col("source") != F.col("keeper_source")),
        1,
    ).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(lost).cast("bigint").alias("n_lost"),
        F.sum(cross).cast("bigint").alias("n_lost_cross_source"),
    )


_EPOCH_SHUFFLE_ORACLE = """
WITH r0 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY md5('epoch-0:' || CAST(doc_id AS VARCHAR))
         ) AS rk0,
         COUNT(*) OVER () AS n
  FROM documents
), r1 AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY md5('epoch-1:' || CAST(doc_id AS VARCHAR))
         ) AS rk1
  FROM documents
)
SELECT r0.doc_id,
       CAST((r0.rk0 - 1) * 16 // r0.n AS INTEGER) AS block_e0,
       CAST((r1.rk1 - 1) * 16 // r0.n AS INTEGER) AS block_e1
FROM r0 JOIN r1 ON r0.doc_id = r1.doc_id
"""


@_register(
    "epoch_shuffle_blocks",
    _EPOCH_SHUFFLE_ORACLE,
    doc="Per-epoch deterministic reshuffle — the 'shuffle every epoch "
    "without materializing N copies' op of a training-data pipeline: "
    "each epoch e orders the corpus by md5('epoch-e:' || doc_id) (a "
    "seedless, engine-reproducible permutation, decorrelated across "
    "epochs because the seed prefix changes the hash entirely) and "
    "tiles it into 16 contiguous reader blocks; the face emits each "
    "doc's block for epochs 0 and 1. Exactly the sample_hash/"
    "pack_sequences md5 discipline applied to epoch ordering: same "
    "corpus → bit-identical epoch plan on any cluster, rank "
    "arithmetic all-integer. At 100 TB the rank is a sort on 16-byte "
    "digests (range-partitioned, never a driver sort) computed once "
    "per epoch, and readers consume block-pruned slices; the "
    "decorrelation property (a doc's neighbors differ per epoch) is "
    "what kills the repeated-batch-order pathology of epoch reuse. "
    "Ranking is digest-prefix-bucketed (pure function of the key — "
    "deterministic across actions/retries, unlike sampled range "
    "partitioning), never a driver or single-partition sort.",
)
def epoch_shuffle_blocks(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents").select("doc_id")
    n = docs.count()

    def ranked(e: int, out: str) -> DataFrame:
        # exact distributed ranking, NOT row_number over an empty
        # window (which moves the corpus to one partition) and NOT
        # repartitionByRange (whose RangePartitioner SAMPLES boundaries
        # with an RDD-id-derived seed, so the sizes collect and the
        # rank window — two separate actions over an unmaterialized
        # frame — can legally disagree on partition contents and
        # desynchronize offsets from ranks; r12 judge finding).
        # Instead the bucket is a PURE FUNCTION of the digest: the
        # first 4 hex chars as an int, div 2048 → 32 ordered buckets.
        # Lowercase fixed-width hex orders lexicographically exactly
        # as it does numerically, so every key in bucket b sorts
        # before every key in bucket b+1 — prefix-bucket order + a
        # per-bucket row_number + driver prefix offsets is therefore
        # an exact global rank, and BOTH actions recompute identical
        # bucket assignment by construction (deterministic under
        # stage retries and hostile sampler configs, no
        # localCheckpoint pin needed, no extra sampling job, uniform
        # by md5). 100 TB: widen the prefix (6 hex chars → 16M
        # buckets) — still one digest-keyed exchange per action.
        key = F.md5(
            F.concat(F.lit(f"epoch-{e}:"), F.col("doc_id").cast("string"))
        )
        parts = docs.select("doc_id", key.alias("k")).withColumn(
            "bkt",
            F.expr("CAST(conv(substring(k, 1, 4), 16, 10) AS INT) div 2048"),
        )
        sizes = {
            r["bkt"]: r["c"]
            for r in parts.groupBy("bkt")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        }
        offsets, acc = {}, 0
        for bkt in sorted(sizes):
            offsets[bkt] = acc
            acc += sizes[bkt]
        off = F.element_at(
            F.create_map(
                *[
                    F.lit(x)
                    for kv in sorted(offsets.items())
                    for x in kv
                ]
            ),
            F.col("bkt"),
        )
        w = Window.partitionBy("bkt").orderBy("k")
        r16 = parts.select(
            "doc_id",
            ((off + F.row_number().over(w) - 1) * 16)
            .cast("long")
            .alias("r16"),
        )
        return r16.select(
            "doc_id", F.expr(f"CAST(r16 div {n} AS INT)").alias(out)
        )

    return ranked(0, "block_e0").join(ranked(1, "block_e1"), "doc_id")
