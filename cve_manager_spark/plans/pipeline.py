"""Training-data-pipeline queries: dedup, similarity search, text analysis
(SURVEY §2.8, BASELINE.json north_star) over ``documents``/``embeddings``.

Oracle-checked where DuckDB can express the same deterministic formula;
LSH/MinHash paths are rows-only (hash-seed dependent) by design — the
deterministic exact paths (`dedup_exact`, `dedup_ngram_jaccard`,
`knn_cosine`) gate correctness, the LSH paths gate scalability.
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cve_manager_spark.operators import dedup as D
from cve_manager_spark.operators import similarity as S
from cve_manager_spark.functions.helpers import fan_out, values_relation
from cve_manager_spark.operators import text as T
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# ---------------------------------------------------------------------------
# dedup family
# ---------------------------------------------------------------------------

@_register(
    "dedup_exact",
    "SELECT sha256(text) AS content_sha, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups "
    "FROM documents GROUP BY sha256(text)",
    doc="N1 exact dedup on a content digest; deterministic keep rule (min id).",
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return D.exact_dedup(load_table(spark, sf, "documents"))


_JACCARD_ORACLE = """
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
       CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)) AS jaccard
FROM exk a JOIN exk b ON a.shingle = b.shingle AND a.id < b.id
           AND a.n_sh * 0.3 <= b.n_sh AND b.n_sh * 0.3 <= a.n_sh
GROUP BY a.id, b.id, a.n_sh, b.n_sh
HAVING CAST(COUNT(*) AS DOUBLE) / (a.n_sh + b.n_sh - COUNT(*)) >= 0.3
"""


@_register(
    "dedup_ngram_jaccard",
    _JACCARD_ORACLE,
    doc="N2: pairwise word-3-gram Jaccard ≥ 0.3 via shingle self-join with "
    "size-ratio pruning AND the stop-shingle frequency cap (df ≤ 10% of "
    "docs, mirrored in the oracle — same pattern as shingle_containment). "
    "The cap is the at-scale default: one boilerplate shingle shared by k "
    "docs alone yields k(k-1)/2 join rows on a single shuffle key, so the "
    "uncapped exact form is a job-killer on a 100 TB corpus; capped "
    "similarity can only shrink (denominators keep full shingle counts), "
    "so output is a pairwise subset of the exact result — recall dial, "
    "never false positives. The uncapped exact form stays available as "
    "ngram_jaccard_pairs(max_doc_freq_frac=None) and is differentially "
    "tested against this spec (capped ⊆ exact) in "
    "tests/test_scale_hardening.py. Integer-count arithmetic → "
    "deterministic; the LSH variants below are the at-scale "
    "approximations of this result.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf, "documents"), n=3, threshold=0.3,
        max_doc_freq_frac=0.10,
    )


@_register(
    "dedup_simhash",
    None,
    doc="N2: SimHash near-dup pairs (banded LSH + Hamming verify). Rows-only: "
    "depends on Spark's xxhash64 — not portable to a DuckDB formula.",
)
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    return D.simhash_near_dups(load_table(spark, sf, "documents"), max_hamming=10)


@_register(
    "dedup_minhash",
    None,
    doc="N2: MinHash LSH near-dup pairs via pyspark.ml approxSimilarityJoin. "
    "Rows-only: hash-seed dependent.",
)
def dedup_minhash(spark: SparkSession, sf: str) -> DataFrame:
    # 16 hash tables: identical pair set to 32 on this corpus, ~3× faster
    # (OR-amplified collision probability at j≥0.5 is already ≈1).
    pairs, _model = D.minhash_near_dups(
        load_table(spark, sf, "documents"), n=2, num_hashes=16, jaccard_threshold=0.5
    )
    return pairs


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

_KNN_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
  GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM d
ORDER BY dot / (SQRT(na) * SQRT(nb)) DESC, vec_id
LIMIT 10
"""


@_register(
    "knn_cosine",
    _KNN_ORACLE,
    doc="N3 exact top-10 cosine against the vec_id=0 query vector. Float32 "
    "products are exact in float64, so cross-engine error is ~1e-14 — far "
    "inside the 1e-6 rounding granularity exposed.",
)
def knn_cosine(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    topk = S.cosine_topk(emb, q, k=10)
    return topk.select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))


_COS_THRESHOLD_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
  GROUP BY e.vec_id
)
SELECT vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim
FROM d WHERE vec_id <> 0 AND dot / (SQRT(na) * SQRT(nb)) >= 0.2
"""


@_register(
    "cosine_threshold",
    _COS_THRESHOLD_ORACLE,
    doc="N3 range variant: all vectors with cosine ≥ 0.2 to the query "
    "(embedding near-dup shape: same plan with a high threshold).",
)
def cosine_threshold(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scores = S.cosine_scores(emb, q)
    return (
        scores.where((F.col("vec_id") != 0) & (F.col("cos_sim") >= 0.2))
        .select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


@_register(
    "ann_lsh",
    None,
    doc="N3 scale path: random-hyperplane LSH bucketed ANN top-10 with "
    "Hamming-2 multi-probe. Rows-only (approximate by construction); "
    "invariants asserted against the exact path in tests/test_operators.py.",
)
def ann_lsh(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return S.ann_topk(emb, q, dim=64, k=10, n_planes=6, multi_probe=2)


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

@_register(
    "text_tokenize_count",
    "SELECT token, COUNT(*) AS n FROM ("
    "  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token"
    "  FROM documents) GROUP BY token",
    doc="N4 corpus word frequency: explode + hash aggregate (map-side combine "
    "makes this linear-shuffle in distinct tokens, not corpus size).",
)
def text_tokenize_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return (
        docs.select(F.explode(T.words(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_QUALITY_ORACLE = """
WITH t AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS w,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS wl
  FROM documents
)
SELECT doc_id,
  length(text) AS q_n_chars,
  len(w) AS q_n_words,
  CASE WHEN len(w) > 0
       THEN CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w)
       ELSE 0.0 END AS q_avg_word_len,
  CASE WHEN length(text) > 0
       THEN CAST(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS DOUBLE) / length(text)
       ELSE 0.0 END AS q_punct_ratio,
  CASE WHEN len(w) > 0
       THEN CAST(len(list_filter(wl, x -> x IN ('the','a','an','of','and','to','in','is','it','that'))) AS DOUBLE) / len(w)
       ELSE 0.0 END AS q_stop_ratio
FROM t
"""


@_register(
    "text_quality",
    _QUALITY_ORACLE,
    doc="N4 quality scoring: char/word counts, avg word length, punctuation "
    "and stopword ratios — integer-count arithmetic, deterministic.",
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return T.quality_features(docs).select(
        "doc_id", "q_n_chars", "q_n_words", "q_avg_word_len", "q_punct_ratio", "q_stop_ratio"
    )


_LANG_ORACLE = """
WITH t AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
  FROM documents
), c AS (
  SELECT doc_id,
    len(list_filter(toks, x -> x IN ('the','a','and','of'))) AS c_en,
    len(list_filter(toks, x -> x IN ('der','die','und','das'))) AS c_de,
    len(list_filter(toks, x -> x IN ('le','la','et','les'))) AS c_fr,
    len(list_filter(toks, x -> x IN ('el','la','los','de'))) AS c_es
  FROM t
)
SELECT doc_id, CASE
  WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_es THEN 'en'
  WHEN c_de > 0 AND c_de >= c_fr AND c_de >= c_es THEN 'de'
  WHEN c_fr > 0 AND c_fr >= c_es THEN 'fr'
  WHEN c_es > 0 THEN 'es'
  ELSE 'und' END AS pred_lang
FROM c
"""


@_register(
    "text_lang_id",
    _LANG_ORACLE,
    doc="N4 language ID: marker-word ratio argmax with deterministic "
    "tie-break (en > de > fr > es), 'und' on zero evidence.",
)
def text_lang_id(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return T.lang_id(docs).select("doc_id", "pred_lang")


@_register(
    "token_count",
    "SELECT doc_id, "
    "len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS ws_tokens, "
    "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')) AS bpe_tokens "
    "FROM documents",
    doc="N4 token counting: whitespace tokens + BPE-ish regex segmentation.",
)
def token_count(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return docs.select(
        "doc_id",
        T.token_count_ws(F.col("text")).cast("bigint").alias("ws_tokens"),
        T.token_count_bpe(F.col("text")).cast("bigint").alias("bpe_tokens"),
    )


@_register(
    "multimodal_features",
    "SELECT doc_id, octet_length(encode(text)) AS n_bytes, sha256(text) AS content_sha "
    "FROM documents",
    doc="N5 multimodal plumbing: opaque binary column → Arrow-batched "
    "mapInPandas feature extraction (byte length + content digest). The "
    "payload here is UTF-8 text bytes; real media payloads ride the same "
    "schema/batch path with a pluggable decoder (operators.multimodal).",
)
def multimodal_features(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.multimodal import attach_binary, extract_features

    docs = fan_out(load_table(spark, sf, "documents"))
    return extract_features(attach_binary(docs)).select("doc_id", "n_bytes", "content_sha")


@_register(
    "doc_fingerprint",
    "SELECT doc_id, list_reduce("
    "list_prepend(CAST(0 AS BIGINT), list_transform(string_split(text, ''), "
    "c -> CAST(ascii(c) AS BIGINT))), "
    "(acc, x) -> (acc * 31 + x) % 2147483647) AS fp FROM documents",
    doc="N4 document fingerprint: polynomial rolling hash mod 2^31-1 — an "
    "engine-agnostic content fingerprint (same formula runs on DuckDB).",
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    return docs.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


_EMB_NEARDUP_ORACLE = """
WITH v AS (
  SELECT vec_id, embedding,
         SQRT((SELECT SUM(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)) FROM unnest(embedding) t(e))) AS nrm
  FROM embeddings
),
d AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         SUM(CAST(a.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)) AS dot,
         ANY_VALUE(a.nrm) AS na, ANY_VALUE(b.nrm) AS nb
  FROM v a JOIN v b ON a.vec_id < b.vec_id
  CROSS JOIN range(1, 65) t(i)
  GROUP BY a.vec_id, b.vec_id
)
SELECT id_a, id_b, ROUND(dot / (na * nb), 6) AS cos_sim
FROM d WHERE dot / (na * nb) >= 0.35
"""


@_register(
    "dedup_embedding",
    _EMB_NEARDUP_ORACLE,
    doc="N2 embedding-cosine near-dup: all pairs with cosine ≥ 0.35 via "
    "banded hyperplane LSH (equi-join on band keys, Arrow-batched exact "
    "cosine verify — operators.similarity.embedding_neardup_pairs). "
    "Replaces the r1 all-pairs inequality join (BroadcastNestedLoopJoin, "
    "VERDICT 'What's wrong' #2): candidates now flow through shuffle "
    "equi-joins, and banding is the recall/cost dial. The DuckDB oracle "
    "is the exact quadratic formula, so the driver check proves the "
    "banded path loses no pair at this scale/threshold.",
)
def dedup_embedding(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    pairs = S.embedding_neardup_pairs(emb, dim=64, threshold=0.35, n_bands=32, band_bits=2)
    return pairs.select("id_a", "id_b", F.round("cos_sim", 6).alias("cos_sim"))


@_register(
    "agg_percentile",
    "SELECT event_type, quantile_cont(value, 0.5) AS p50, "
    "quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type",
    doc="Exact percentiles (continuous interpolation — identical definition "
    "in Spark `percentile` and DuckDB `quantile_cont`). The at-scale "
    "variant is approx_percentile (t-digest), rows-only like HLL.",
)
def agg_percentile(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    return ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("p50"),
        F.percentile("value", 0.9).alias("p90"),
    )


_TFIDF_ORACLE = """
WITH tok AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token
), dfreq AS (
  SELECT token, COUNT(DISTINCT doc_id) AS dfreq FROM tok GROUP BY token
), n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token,
       ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.dfreq), 6) AS tfidf
FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
"""


@_register(
    "text_tfidf",
    _TFIDF_ORACLE,
    doc="N4 TF-IDF term weighting, pure relational form: per-doc term counts "
    "⋈ document frequencies ⋈ corpus size. Two hash aggregates + one "
    "broadcast-able join on token; ln over identical doubles is "
    "bit-reproducible (rounded to 6dp for cross-engine safety).",
)
def text_tfidf(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark import StorageLevel

    docs = fan_out(load_table(spark, sf, "documents"))
    tok = docs.select(
        "doc_id", F.explode(T.words(F.lower(F.col("text")))).alias("token")
    )
    tf = tok.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    # Document frequency FROM the tf relation, not the raw token stream:
    # tf already holds one row per (doc, token), so a plain COUNT replaces
    # countDistinct's expensive two-phase dedup shuffle, and the persist
    # barrier makes the explode+first-aggregate run once for both branches
    # (same pattern as the jaccard shingle index). Alternatives measured
    # and rejected: dfreq via count().over(Window.partitionBy(token)) is
    # ~35% faster at toy scale but buffers each token's rows in ONE window
    # partition — an unsplittable straggler on hot tokens ('the' ≈ one row
    # per document) that AQE cannot skew-split, unlike this join; dropping
    # the persist re-executes the (doc,token) aggregate shuffle twice.
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    tf.count()
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("dfreq")), 6
            ).alias("tfidf"),
        )
    )


@_register(
    "text_top_terms",
    "SELECT token, COUNT(*) AS n FROM ("
    "  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS token"
    "  FROM documents) GROUP BY token ORDER BY n DESC, token LIMIT 20",
    doc="N4 heavy hitters: top-20 corpus terms with a deterministic "
    "tie-break; TakeOrderedAndProject over the token aggregate.",
)
def text_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.select(F.explode(T.words(F.lower(F.col("text")))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "token")
        .limit(20)
    )


@_register(
    "knn_cosine_pandas",
    _KNN_ORACLE,
    doc="N3 at-scale variant of knn_cosine: Arrow-batched numpy GEMV pandas "
    "UDF instead of interpreted zip_with folds — same oracle, same top-10 "
    "(float64 accumulation both ways).",
)
def knn_cosine_pandas(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scores = S.cosine_scores_pandas(emb, q)
    return (
        scores.orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", F.round("cos_sim", 6).alias("cos_sim"))
    )


@_register(
    "dedup_clusters",
    "SELECT doc_id AS node, MIN(doc_id) OVER (PARTITION BY lang) AS component FROM documents",
    doc="Dedup clustering: connected components over near-dup edges "
    "(operators.graph, min-label + pointer jumping, O(log n) rounds). "
    "Edges here chain consecutive doc_ids within a language, so every "
    "component is exactly its language group and the oracle reduces to a "
    "window MIN — a real differential test: iterative distributed "
    "propagation vs a closed-form answer, including ~200-hop chains.",
)
def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from cve_manager_spark.operators.graph import connected_components

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy("doc_id")
    edges = (
        docs.select("doc_id", "lang")
        .withColumn("next_id", F.lead("doc_id").over(w))
        .where(F.col("next_id").isNotNull())
        .select(F.col("doc_id").alias("id_a"), F.col("next_id").alias("id_b"))
    )
    return connected_components(edges)


@_register(
    "ann_ivf",
    None,
    doc="N3 scale path #2: IVF — KMeans coarse quantizer, search the "
    "n_probe nearest cells (scans n_probe/n_lists of the corpus). "
    "Rows-only: KMeans assignment is seed/init dependent.",
)
def ann_ivf(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    return S.ivf_topk(emb, q, k=10, n_lists=16, n_probe=4)


_CLEAN_ORACLE = """
WITH q AS (
  SELECT doc_id, text, lang,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_words
  FROM documents
), d AS (
  SELECT doc_id, lang, n_words,
         MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
  FROM q
  WHERE n_words >= 20 AND lang IN ('en', 'de')
)
SELECT doc_id, lang, n_words FROM d WHERE doc_id = keep_id
"""


@_register(
    "corpus_clean",
    _CLEAN_ORACLE,
    doc="Pipeline composition: quality filter (≥20 words) ∧ language filter "
    "∧ exact dedup (keep min id per content hash) in one declarative plan "
    "— the canonical pretraining-corpus cleaning pass. Catalyst fuses the "
    "filters into the scan; the only shuffle is the dedup window.",
)
def corpus_clean(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    n_words = F.size(T.words(F.col("text")))
    filtered = docs.withColumn("n_words", n_words.cast("bigint")).where(
        (F.col("n_words") >= 20) & F.col("lang").isin("en", "de")
    )
    w = Window.partitionBy(F.sha2(F.col("text"), 256))
    return (
        filtered.withColumn("keep_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id", "lang", "n_words")
    )


_KNN_PER_LABEL_ORACLE = """
WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
d AS (
  SELECT e.vec_id, e.label,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS dot,
         SUM(CAST(e.embedding[CAST(i AS INT)] AS DOUBLE) * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)) AS na,
         SUM(CAST(q.qe[CAST(i AS INT)] AS DOUBLE) * CAST(q.qe[CAST(i AS INT)] AS DOUBLE)) AS nb
  FROM embeddings e CROSS JOIN q CROSS JOIN range(1, 65) t(i)
  GROUP BY e.vec_id, e.label
)
SELECT label, vec_id, ROUND(dot / (SQRT(na) * SQRT(nb)), 6) AS cos_sim FROM (
  SELECT label, vec_id, dot, na, nb,
         ROW_NUMBER() OVER (PARTITION BY label
                            ORDER BY dot / (SQRT(na) * SQRT(nb)) DESC, vec_id) AS rn
  FROM d
) WHERE rn <= 3
"""


@_register(
    "knn_per_label",
    _KNN_PER_LABEL_ORACLE,
    doc="Grouped vector search: top-3 nearest to the query within EACH "
    "label (per-class retrieval). Scores via the broadcast plan; ranking "
    "via a label-partitioned window — one shuffle on label.",
)
def knn_per_label(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    emb = fan_out(load_table(spark, sf, "embeddings"))
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    scores = (
        emb.crossJoin(F.broadcast(q))
        .select(
            "label",
            "vec_id",
            S.cosine(
                S.as_double(F.col("embedding")), S.as_double(F.col("qvec"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("label").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scores.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("label", "vec_id", F.round("cos", 6).alias("cos_sim"))
    )


@_register(
    "sample_hash",
    "SELECT doc_id, lang FROM documents "
    "WHERE ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) % 4 = 0",
    doc="Deterministic hash sampling: a stable ~25% shard keyed on md5 of "
    "the id — reproducible across engines, runs, and cluster layouts "
    "(unlike TABLESAMPLE/rand()), which is what training-data sharding "
    "needs. md5 is the one hash both engines share bit-for-bit.",
)
def sample_hash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 4
    return docs.where(bucket == 0).select("doc_id", "lang")


_BOTTOMK_STRATIFIED_ORACLE = """
SELECT event_type, d, id, value FROM (
  SELECT event_type,
         md5(CAST(event_id AS VARCHAR)) AS d,
         CAST(event_id AS VARCHAR) AS id,
         value,
         ROW_NUMBER() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR))
         ) AS rn
  FROM events
) t WHERE rn <= 16
"""


@_register(
    "sample_bottomk_stratified",
    _BOTTOMK_STRATIFIED_ORACLE,
    doc="Stratified bottom-k sample (SURVEY r13 seed f): the k=16 rows "
    "with the smallest md5(event_id) PER event_type — one "
    "deterministic reservoir per stratum, so skewed traffic cannot "
    "starve rare strata of sample mass (the per-language guarantee "
    "a global hash sample cannot give). This is the batch twin of the "
    "eighth sketch state (streaming/sinks.foreach_batch_bottomk_"
    "stratified, merge law = per-group bottom-k of union, proven "
    "stream==batch + replay-idempotent), so the estimator family is "
    "hash-verified end to end. At 100 TB: one window rank partitioned "
    "on the stratum key — a single hash exchange, never a global "
    "sort; state ≤ k x |strata| rows.",
)
def sample_bottomk_stratified(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("event_type").orderBy("d")
    return (
        ev.select(
            "event_type",
            F.md5(F.col("event_id").cast("string")).alias("d"),
            F.col("event_id").cast("string").alias("id"),
            "value",
        )
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 16)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# r2 additions: sampling, masking, corpus stats, cohorts, multimodal oracles
# ---------------------------------------------------------------------------

_MINHASH_DET_ORACLE = """
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
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
), j AS (
  SELECT c.id_a, c.id_b,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) AS na, len(sb.shingles) AS nb
  FROM cand c JOIN ne sa ON sa.id = c.id_a JOIN ne sb ON sb.id = c.id_b
)
SELECT id_a, id_b, CAST(inter AS DOUBLE) / (na + nb - inter) AS jaccard
FROM j WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= 0.5
"""


@_register(
    "dedup_minhash_det",
    _MINHASH_DET_ORACLE,
    doc="N2: deterministic MinHash LSH (md5 hash family, lexicographic-min "
    "signatures, 16 bands × 2 rows, exact-Jaccard verify) — the canonical "
    "shingle→minhash→band→bucket-join pipeline with every stage "
    "engine-reproducible, so the full LSH pipeline gets a hash-checked "
    "driver verdict (the pyspark.ml variant stays rows-only by seed). "
    "operators.dedup.minhash_det_pairs.",
)
def dedup_minhash_det(spark: SparkSession, sf: str) -> DataFrame:
    # No rounding on either side: jaccard is a ratio of small integers,
    # IEEE-identical across engines (same rule as dedup_ngram_jaccard).
    return D.minhash_det_pairs(
        load_table(spark, sf, "documents"), n=2, num_hashes=32, bands=16, threshold=0.5
    )

_STRATIFIED_ORACLE = """
WITH rates(lang, pct) AS (VALUES ('en', 2), ('de', 5), ('fr', 10), ('es', 20))
SELECT d.doc_id, d.lang
FROM documents d JOIN rates r ON d.lang = r.lang
WHERE ascii(substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1)) % 20 < r.pct
"""


@_register(
    "stratified_sample",
    _STRATIFIED_ORACLE,
    doc="Language-balanced deterministic sampling: per-stratum keep rates "
    "(en 10%, de 25%, fr 50%, es 100% of 20 hash buckets) via a broadcast "
    "join against the tiny rates dim — the language-rebalancing pass of a "
    "pretraining mix. Same md5 shard key as sample_hash, so shards are "
    "stable across engines and cluster layouts; langs absent from the "
    "rates table drop out (inner join).",
)
def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    rates = values_relation(
        spark, [("en", 2), ("de", 5), ("fr", 10), ("es", 20)], "lang string, pct int"
    )
    bucket = F.ascii(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)) % 20
    return (
        docs.join(F.broadcast(rates), "lang")
        .where(bucket < F.col("pct"))
        .select("doc_id", "lang")
    )


@_register(
    "text_pii_mask",
    "SELECT doc_id, regexp_replace(regexp_replace(text, "
    "'[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+', '<EMAIL>', 'g'), "
    "'[0-9]{4,}', '<NUM>', 'g') AS masked FROM documents",
    doc="PII-style masking: emails then 4+-digit runs replaced with typed "
    "placeholders — two JVM-side regexp_replace passes (narrow map, no "
    "Python). Patterns restricted to the regex subset Java and RE2 agree "
    "on (no backrefs/lookaround), so the oracle runs the same expressions.",
)
def text_pii_mask(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    masked = F.regexp_replace(
        F.regexp_replace(F.col("text"), r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+", "<EMAIL>"),
        r"[0-9]{4,}",
        "<NUM>",
    )
    return docs.select("doc_id", masked.alias("masked"))


_REPETITION_ORACLE = """
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
)
SELECT doc_id, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
       CASE WHEN len(w) > 0
            THEN ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 6)
            ELSE 0.0 END AS distinct_ratio
FROM t
"""


@_register(
    "text_repetition_ratio",
    _REPETITION_ORACLE,
    doc="N4 repetition quality signal: distinct-token ratio per document "
    "(low ratio = boilerplate/spam — a standard pretraining filter "
    "feature). array_distinct/size are codegen expressions; integer "
    "counts divide deterministically.",
)
def text_repetition_ratio(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = T.words(F.lower(F.col("text")))
    n = F.size(w).cast("bigint")
    nd = F.size(F.array_distinct(w)).cast("bigint")
    ratio = F.when(n > 0, F.round(nd.cast("double") / n, 6)).otherwise(F.lit(0.0))
    return docs.select(
        "doc_id", n.alias("n_tokens"), nd.alias("n_distinct"), ratio.alias("distinct_ratio")
    )


@_register(
    "doc_length_histogram",
    "SELECT n_chars // 100 AS bucket, COUNT(*) AS n, "
    "MIN(n_chars) AS lo, MAX(n_chars) AS hi "
    "FROM documents GROUP BY 1",
    doc="Corpus length histogram (100-char buckets): the shape check run "
    "before/after every filter stage of a data pipeline. One hash "
    "aggregate over a derived key; bucket count is bounded, so the "
    "shuffle is tiny at any corpus size.",
)
def doc_length_histogram(spark: SparkSession, sf: str) -> DataFrame:
    docs = load_table(spark, sf, "documents")
    return (
        docs.groupBy((F.col("n_chars") / 100).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("n_chars").alias("lo"),
            F.max("n_chars").alias("hi"),
        )
    )


@_register(
    "group_sample_topn",
    "SELECT doc_id, lang FROM ("
    "  SELECT doc_id, lang, ROW_NUMBER() OVER ("
    "    PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn"
    "  FROM documents) WHERE rn <= 3",
    doc="Deterministic per-group sample: 3 docs per language, ordered by "
    "md5 of the id (a seedless reproducible shuffle) — per-stratum "
    "eyeball samples that don't change between runs. One window shuffle "
    "on lang; rows beyond rank 3 never leave the partition.",
)
def group_sample_topn(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load_table(spark, sf, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 3)
        .select("doc_id", "lang")
    )


_BIGRAM_ORACLE = """
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), bg AS (
  SELECT unnest(CASE WHEN len(w) >= 2
    THEN list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])
    ELSE [] END) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n FROM bg GROUP BY bigram
ORDER BY n DESC, bigram LIMIT 20
"""


@_register(
    "text_ngram_freq",
    _BIGRAM_ORACLE,
    doc="N4 n-gram language statistics: top-20 word bigrams with a "
    "deterministic tie-break. Bigrams via zip_with over two array slices "
    "(codegen, no Python), then explode → hash aggregate → "
    "TakeOrderedAndProject.",
)
def text_ngram_freq(spark: SparkSession, sf: str) -> DataFrame:
    docs = fan_out(load_table(spark, sf, "documents"))
    w = T.words(F.lower(F.col("text")))
    bigrams = F.zip_with(
        F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(0))),
        F.slice(w, 2, F.greatest(F.size(w) - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


_RETENTION_ORACLE = """
WITH hu AS (
  SELECT DISTINCT date_trunc('hour', ts) AS h, user_id FROM events
)
SELECT a.h AS hour, COUNT(*) AS active,
       COUNT(b.user_id) AS retained,
       ROUND(CAST(COUNT(b.user_id) AS DOUBLE) / COUNT(*), 6) AS retention
FROM hu a LEFT JOIN hu b
  ON a.user_id = b.user_id AND b.h = a.h + INTERVAL 1 HOUR
GROUP BY a.h
"""


@_register(
    "events_retention",
    _RETENTION_ORACLE,
    doc="Hour-over-hour retention cohort: of the users active in hour h, "
    "the share also active in h+1 — the engagement-funnel shape every "
    "event pipeline reports. Distinct (hour, user) pairs self-join on "
    "(user, adjacent hour): both sides hash-partition on user_id, and "
    "the aggregate is bounded by #hours.",
)
def events_retention(spark: SparkSession, sf: str) -> DataFrame:
    ev = load_table(spark, sf, "events")
    # date_trunc returns TIMESTAMP (ltz) even for ntz input; cast straight
    # back under the UTC session so the hour is wall-clock, not host-tz.
    hu = ev.select(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("h"), "user_id"
    ).distinct()
    nxt = hu.select(
        (F.col("h") - F.expr("INTERVAL 1 HOUR")).alias("h"),
        F.col("user_id").alias("r_user"),
    )
    joined = hu.join(
        nxt, (hu.user_id == nxt.r_user) & (hu.h == nxt.h), "left"
    )
    return joined.groupBy(hu.h.alias("hour")).agg(
        F.count(F.lit(1)).alias("active"),
        F.count("r_user").alias("retained"),
        F.round(F.count("r_user").cast("double") / F.count(F.lit(1)), 6).alias(
            "retention"
        ),
    )


_THUMB_ORACLE = """
SELECT doc_id, 32 AS width, 32 AS height,
       substr(repeat(sha256(text), 33), 1, 2048) AS thumb_hex
FROM documents
"""


@_register(
    "multimodal_thumbnail",
    _THUMB_ORACLE,
    doc="N5 decode/resize plumbing: binary payload → mapInPandas → "
    "fixed-size thumbnail rows (operators.multimodal.decode_resize). The "
    "decode itself is the documented deterministic stub (sha256 digest "
    "tiled to 32×32 — media libs absent from this env; real_decoder= "
    "plugs in PIL), which makes even the STUB oracle-checkable: DuckDB "
    "reproduces the tiling with repeat(sha256). Batch shape, schema "
    "contract, and payload-drop are exactly the production path.",
)
def multimodal_thumbnail(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.multimodal import attach_binary, decode_resize

    docs = fan_out(load_table(spark, sf, "documents"))
    thumbs = decode_resize(attach_binary(docs), target=(32, 32))
    return thumbs.select(
        "doc_id", "width", "height", F.lower(F.hex("thumb")).alias("thumb_hex")
    )


_FRAMES_ORACLE = """
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       lower(substr(hex(encode(text)), CAST(i * 20 + 1 AS BIGINT), 20)) AS frame_hex
FROM (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(octet_length(encode(text)) / 10.0) AS BIGINT))) AS i
  FROM documents
)
"""


@_register(
    "multimodal_frames",
    _FRAMES_ORACLE,
    doc="N5 frame-sampling plumbing: one blob → many (frame_idx, frame) "
    "rows via mapInPandas (operators.multimodal.frame_sample) — the "
    "video-decode fan-out shape. The stub slices the payload every 10 "
    "bytes, so the oracle regenerates frames with substring arithmetic.",
)
def multimodal_frames(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.multimodal import attach_binary, frame_sample

    docs = fan_out(load_table(spark, sf, "documents"))
    frames = frame_sample(attach_binary(docs), every_n=10)
    return frames.select(
        "doc_id", "frame_idx", F.lower(F.hex("frame")).alias("frame_hex")
    )


# ---------------------------------------------------------------------------
# folded from the round8 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# perceptual image hashing (multimodal dedup — the missing modality)
# ---------------------------------------------------------------------------


def _phash_oracle_cte() -> str:
    """Machine-built oracle for the aHash over the deterministic stub
    decode: pixels are the bytes of repeat(sha256(text), 2) (the stub
    tiles the 32-byte digest to the 8×8 target), extracted as hex-pair
    integers; bit i = px[i]·64 > Σpx (integer mean test); the hash
    surfaces as 16 hex chars + 4×16-bit band ints."""
    hv = "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1)"
    # The demo payload is the 32-char text PREFIX (not the full text): the
    # sf0.01 driver corpus has zero exact full-text duplicates, while
    # prefix-32 has ~23 natural collision groups — so the prevalence/near-dup
    # faces verify on NONZERO rows at driver scale instead of 0==0.
    px = ", ".join(
        f"{hv.format(p=2 * i + 1)}*16 + {hv.format(p=2 * i + 2)}" for i in range(64)
    )
    nib = " || ".join(
        "substr('0123456789abcdef', "
        + " + ".join(f"bits[{4 * k + j + 1}]*{8 >> j}" for j in range(4))
        + " + 1, 1)"
        for k in range(16)
    )
    bands = ", ".join(
        "CAST("
        + " + ".join(f"bits[{16 * j + t + 1}]*{1 << (15 - t)}" for t in range(16))
        + f" AS INTEGER) AS band{j}"
        for j in range(4)
    )
    return f"""
WITH t AS (
  SELECT doc_id, repeat(sha256(substr(text, 1, 32)), 2) AS h FROM documents
), p AS (
  SELECT doc_id, [{px}] AS px FROM t
), s AS (
  SELECT doc_id, px, list_sum(px) AS tot FROM p
), b AS (
  SELECT doc_id,
         list_transform(px, x -> CASE WHEN x * 64 > tot THEN 1 ELSE 0 END)
           AS bits
  FROM s
), ph AS (
  SELECT doc_id, {nib} AS phash_hex, {bands} FROM b
)
"""


_PHASH_ORACLE = _phash_oracle_cte() + """
SELECT doc_id, phash_hex, band0, band1, band2, band3 FROM ph
"""


def _phash_df(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.multimodal import (
        attach_binary,
        decode_resize,
        phash_ahash,
    )

    docs = fan_out(load_table(spark, sf, "documents")).withColumn(
        "text", F.substring("text", 1, 32)
    )
    thumbs = decode_resize(attach_binary(docs), target=(8, 8))
    return phash_ahash(thumbs)


def _phash_table(spark: SparkSession, sf: str) -> DataFrame:
    """The pHash fingerprint relation as a MATERIALIZED artifact — the
    DataFrame twin of the ``plans/artifacts.py`` frozen-artifact
    contract (VERDICT r11 'what's wrong' #2): in a production pipeline
    the perceptual-hash table is computed once per corpus snapshot by
    the decode job and every downstream face (exact groups, banded
    near-dup join, Hamming histogram, bit balance) READS it; re-running
    the Arrow decode kernel inside each face — twice for the self-join
    faces, since Spark does not dedupe common subplans — priced the
    decode 2–4× per query and thrashed under concurrent-suite memory
    pressure. The artifact lives in the scratch store
    (:func:`~cve_manager_spark.plans.artifacts.scratch`), keyed on the
    sf dir, the documents file's mtime and the package source, so a
    data or code change builds a new one; the DuckDB oracles recompute
    from the raw table every run, so a stale artifact would FAIL the
    oracle hash gate, never silently pass. Scale shape: the
    fingerprint table is (doc_id, 16 hex chars, 4 shorts) — O(corpus
    rows), trivially storable; the decode cost is paid once per
    snapshot, which is the point."""
    from pathlib import Path

    from cve_manager_spark.plans.artifacts import scratch

    try:
        mtime = (Path(sf) / "documents.parquet").stat().st_mtime_ns
    except OSError:
        # non-local or vanished source: no safe invalidation key, so
        # fall back to the unmaterialized plan
        return _phash_df(spark, sf)

    def build(work):
        _phash_df(spark, sf).write.parquet(str(work / "phash"))

    root = scratch(f"phash{mtime}", sf, build)
    return spark.read.parquet(str(root / "phash"))


@_register(
    "image_phash",
    _PHASH_ORACLE,
    doc="Perceptual image hash (aHash) over the decode_resize thumbnail "
    "(VERDICT r7 #2 — multimodal dedup plumbing): 8×8 grayscale pixels "
    "→ 64 bits of 'pixel above image mean', folded MSB-first into a "
    "16-hex-char fingerprint plus 4×16-bit LSH bands. The mean test is "
    "pure integers (px·64 > Σpx — no float mean, no rounding edge), "
    "the kernel one numpy pass per Arrow batch, and the banding reuses "
    "the SimHash discipline so Hamming-banded candidate joins work "
    "unchanged. The stub decoder is sha256-tiling (media libs absent), "
    "which the oracle reproduces hex-pair-wise — swap real_decoder= "
    "for PIL and ONLY the pixel source changes.",
)
def image_phash(spark: SparkSession, sf: str) -> DataFrame:
    return _phash_table(spark, sf).select(
        "doc_id", "phash_hex", "band0", "band1", "band2", "band3"
    )


_PHASH_PREV_ORACLE = _phash_oracle_cte() + """
SELECT phash_hex, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_id
FROM ph GROUP BY phash_hex HAVING COUNT(*) > 1
"""


@_register(
    "image_phash_prevalence",
    _PHASH_PREV_ORACLE,
    doc="Exact perceptual-duplicate groups: images sharing an identical "
    "aHash, with the canonical keeper (min doc_id) — the image-side "
    "twin of dedup_exact's digest groupBy. One hash-keyed shuffle of "
    "16-byte fingerprints, never pixels.",
)
def image_phash_prevalence(spark: SparkSession, sf: str) -> DataFrame:
    ph = _phash_table(spark, sf)
    return (
        ph.groupBy("phash_hex")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_id"))
        .where(F.col("n_docs") > 1)
    )


_PHASH_DEDUP_ORACLE = _phash_oracle_cte() + """
, m AS (
  SELECT doc_id, band0, band1, band2, band3,
         unnest([struct_pack(j := 0, v := band0),
                 struct_pack(j := 1, v := band1),
                 struct_pack(j := 2, v := band2),
                 struct_pack(j := 3, v := band3)]) AS bk
  FROM ph
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM m a JOIN m b ON a.bk.j = b.bk.j AND a.bk.v = b.bk.v
  WHERE a.doc_id < b.doc_id
), hp AS (
  SELECT doc_id, band0, band1, band2, band3 FROM ph
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(CAST(x.band0 AS BIGINT), CAST(y.band0 AS BIGINT)))
          + bit_count(xor(CAST(x.band1 AS BIGINT), CAST(y.band1 AS BIGINT)))
          + bit_count(xor(CAST(x.band2 AS BIGINT), CAST(y.band2 AS BIGINT)))
          + bit_count(xor(CAST(x.band3 AS BIGINT), CAST(y.band3 AS BIGINT)))
          AS INTEGER) AS hamming
FROM cand c
JOIN hp x ON c.id_a = x.doc_id
JOIN hp y ON c.id_b = y.doc_id
WHERE bit_count(xor(CAST(x.band0 AS BIGINT), CAST(y.band0 AS BIGINT)))
    + bit_count(xor(CAST(x.band1 AS BIGINT), CAST(y.band1 AS BIGINT)))
    + bit_count(xor(CAST(x.band2 AS BIGINT), CAST(y.band2 AS BIGINT)))
    + bit_count(xor(CAST(x.band3 AS BIGINT), CAST(y.band3 AS BIGINT))) <= 6
"""


@_register(
    "dedup_image_phash",
    _PHASH_DEDUP_ORACLE,
    doc="Hamming-banded image near-dup pairs (VERDICT r7 #2 — composes "
    "the decode_resize Arrow kernel with the SimHash banding "
    "discipline, operators/dedup.py:768): candidates are pairs "
    "agreeing on ANY 16-bit band of the 64-bit aHash (an equi-join on "
    "(band#, key) — a true near-dup at Hamming ≤ 6 disagrees in ≤ 6 "
    "bits, which cannot hit all 4 bands unless ≥... pigeonhole: 6 "
    "bits into 4 bands leaves ≥1 band untouched, so banding recall "
    "is EXACT at this radius), verified by the exact Hamming distance "
    "as Σ per-band bit_count(xor) — no 64-bit signed arithmetic "
    "anywhere. On the sha256-stub pixels only identical payloads "
    "collide (random pairs sit at Hamming ≈ 32), which makes the "
    "result deterministic AND the operator shape production-real; the "
    "payload is the 32-char text prefix, whose natural collision "
    "groups give the face nonzero rows at every driver scale.",
)
def dedup_image_phash(spark: SparkSession, sf: str) -> DataFrame:
    cand = _phash_band_candidates(_phash_table(spark, sf))
    return (
        cand.withColumn("hamming", _phash_hamming().cast("int"))
        .where(F.col("hamming") <= 6)
        .select("id_a", "id_b", "hamming")
    )


def _phash_band_candidates(ph: DataFrame) -> DataFrame:
    """Band-collision candidate pairs with BOTH sides' band ints carried
    in-row (the simhash_det_pairs discipline, operators/dedup.py:768):
    the fingerprint rides through the explode so the self-join yields
    (xa*, yb*) directly — the decode kernel runs once per join side,
    never re-executed by a join-back fetch."""
    m = ph.select(
        "doc_id",
        *[F.col(f"band{j}") for j in range(4)],
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"band{j}").alias("v")
                    )
                    for j in range(4)
                ]
            )
        ).alias("bk"),
    ).select(
        "doc_id",
        F.col("bk.j").alias("j"),
        F.col("bk.v").alias("v"),
        *[F.col(f"band{j}") for j in range(4)],
    )
    a = m.select(
        F.col("doc_id").alias("id_a"),
        "j",
        "v",
        *[F.col(f"band{j}").alias(f"xa{j}") for j in range(4)],
    )
    b = m.select(
        F.col("doc_id").alias("id_b"),
        "j",
        "v",
        *[F.col(f"band{j}").alias(f"yb{j}") for j in range(4)],
    )
    return (
        a.join(b, ["j", "v"])
        .where(F.col("id_a") < F.col("id_b"))
        .drop("j", "v")
        .distinct()
    )


def _phash_hamming():
    return sum(
        F.bit_count(
            F.col(f"xa{j}").cast("bigint").bitwiseXOR(F.col(f"yb{j}").cast("bigint"))
        )
        for j in range(4)
    )


# ---------------------------------------------------------------------------
# folded from the round8b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# image-phash composition faces
# ---------------------------------------------------------------------------


def _phash_cte() -> str:
    from cve_manager_spark.plans.pipeline import _phash_oracle_cte

    return _phash_oracle_cte()


_PHASH_HIST_ORACLE_TAIL = """
, m AS (
  SELECT doc_id,
         unnest([struct_pack(j := 0, v := band0),
                 struct_pack(j := 1, v := band1),
                 struct_pack(j := 2, v := band2),
                 struct_pack(j := 3, v := band3)]) AS bk
  FROM ph
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM m a JOIN m b ON a.bk.j = b.bk.j AND a.bk.v = b.bk.v
  WHERE a.doc_id < b.doc_id
), hp AS (
  SELECT doc_id, band0, band1, band2, band3 FROM ph
), pairs AS (
  SELECT CAST(bit_count(xor(CAST(x.band0 AS BIGINT), CAST(y.band0 AS BIGINT)))
            + bit_count(xor(CAST(x.band1 AS BIGINT), CAST(y.band1 AS BIGINT)))
            + bit_count(xor(CAST(x.band2 AS BIGINT), CAST(y.band2 AS BIGINT)))
            + bit_count(xor(CAST(x.band3 AS BIGINT), CAST(y.band3 AS BIGINT)))
            AS INTEGER) AS hamming
  FROM cand c
  JOIN hp x ON c.id_a = x.doc_id
  JOIN hp y ON c.id_b = y.doc_id
)
SELECT hamming, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM pairs GROUP BY hamming
"""


@_register(
    "phash_hamming_hist",
    None,  # assembled lazily below (needs round8 import); see _finalize
    doc="Hamming-distance histogram over ALL band-collision candidate "
    "pairs (no radius cut) — the calibration plot that justifies the "
    "dedup threshold: true dups cluster at 0, band-coincidence noise "
    "sits near the random-pair mean (~32 of 64 bits). Same banded "
    "equi-join as dedup_image_phash; the histogram is the audit face.",
)
def phash_hamming_hist(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.pipeline import (
        _phash_band_candidates,
        _phash_hamming,
        _phash_table,
    )

    cand = _phash_band_candidates(_phash_table(spark, sf))
    return (
        cand.select(_phash_hamming().cast("int").alias("hamming"))
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


_BIT_BALANCE_ORACLE_TAIL = """
, e AS (
  SELECT CAST(r.i AS INTEGER) AS pos, bits[r.i + 1] AS bit
  FROM b, range(0, 64) r(i)
)
SELECT pos,
       CAST(SUM(bit) AS BIGINT) AS n_ones,
       CAST(SUM(bit) * 1000000 // COUNT(*) AS BIGINT) AS ones_ppm
FROM e GROUP BY pos
"""


@_register(
    "image_phash_bit_balance",
    None,  # assembled lazily below
    doc="Per-bit-position 1-share of the corpus aHash — the uniformity "
    "audit for the banding scheme (a skewed bit position degrades a "
    "band's selectivity and blows up its candidate count). The Spark "
    "side re-derives each bit from the 16-bit band integers with "
    "shift-and-mask (no re-decode); 64-row output, integer ppm.",
)
def image_phash_bit_balance(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.pipeline import _phash_table

    ph = _phash_table(spark, sf).select("band0", "band1", "band2", "band3")
    bits = ph.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(16 * j + t).alias("pos"),
                        F.shiftright(F.col(f"band{j}"), 15 - t)
                        .bitwiseAND(F.lit(1))
                        .alias("bit"),
                    )
                    for j in range(4)
                    for t in range(16)
                ]
            )
        ).alias("u")
    ).select(F.col("u.pos").alias("pos"), F.col("u.bit").alias("bit"))
    return bits.groupBy("pos").agg(
        F.sum("bit").cast("bigint").alias("n_ones"),
        F.expr("sum(bit) * 1000000 div count(1)").alias("ones_ppm"),
    )


_PHASH_CLUSTER_ORACLE_TAIL = """
, grp AS (
  SELECT phash_hex, CAST(COUNT(*) AS BIGINT) AS group_size
  FROM ph GROUP BY phash_hex HAVING COUNT(*) > 1
)
SELECT group_size, CAST(COUNT(*) AS BIGINT) AS n_groups
FROM grp GROUP BY group_size
"""


@_register(
    "image_dup_cluster_sizes",
    None,  # assembled lazily below
    doc="Histogram of exact perceptual-duplicate group sizes — the "
    "image-side twin of dup_cluster_size_hist: how much of the image "
    "corpus is pairs vs deep boilerplate stacks (the size decides "
    "whether keep-one dedup or cluster sampling is the right policy).",
)
def image_dup_cluster_sizes(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.pipeline import _phash_table

    ph = _phash_table(spark, sf)
    grp = (
        ph.groupBy("phash_hex")
        .agg(F.count(F.lit(1)).alias("group_size"))
        .where(F.col("group_size") > 1)
    )
    return grp.groupBy("group_size").agg(F.count(F.lit(1)).alias("n_groups"))


def _finalize() -> None:
    """Attach the oracles that need lazy CTE builders — done once at
    module import, keeping SPECS declarative. (The ivf/pq halves of the
    old round8b finalizer live in plans/semantic.py with their specs.)"""
    lazy = {
        "phash_hamming_hist": _phash_cte() + _PHASH_HIST_ORACLE_TAIL,
        "image_phash_bit_balance": _phash_cte() + _BIT_BALANCE_ORACLE_TAIL,
        "image_dup_cluster_sizes": _phash_cte() + _PHASH_CLUSTER_ORACLE_TAIL,
    }
    for i, spec in enumerate(SPECS):
        if spec.name in lazy:
            SPECS[i] = dataclasses.replace(spec, oracle=lazy[spec.name])


_finalize()


# ---------------------------------------------------------------------------
# folded from the round8c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# MinHash band calibration
# ---------------------------------------------------------------------------

# Candidate CTE mirrors plans/pipeline.py _MINHASH_DET_ORACLE (same
# md5 family, 32 hashes, 16 bands x 2 rows) up to the verify stage,
# then buckets by exact integer Jaccard decile instead of thresholding.
_MINHASH_FP_ORACLE = """
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
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM keys a JOIN keys b ON a.b = b.b AND a.bkey = b.bkey AND a.id < b.id
), j AS (
  SELECT len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS u
  FROM cand c JOIN ne sa ON sa.id = c.id_a JOIN ne sb ON sb.id = c.id_b
)
SELECT CAST(LEAST(9, inter * 10 // u) AS INTEGER) AS jacc_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM j GROUP BY 1
"""


@_register(
    "minhash_band_fp_rate",
    _MINHASH_FP_ORACLE,
    doc="MinHash band calibration: ALL band-collision candidate pairs "
    "bucketed by exact integer Jaccard decile — the measured "
    "candidate-quality curve behind the 16x2 banding choice (mass in "
    "low deciles = wasted verify work, the S-curve knee should sit at "
    "the 0.5 threshold). Reuses the dedup_minhash_det pipeline "
    "(operators/dedup.minhash_det_pairs with_counts=True); deciles "
    "are integer div, no float Jaccard anywhere.",
)
def minhash_band_fp_rate(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators import dedup as D

    pairs = D.minhash_det_pairs(
        load_table(spark, sf, "documents"),
        n=2,
        num_hashes=32,
        bands=16,
        with_counts=True,
    )
    return pairs.groupBy(
        F.expr("least(9, inter * 10 div union_sz)").cast("int").alias(
            "jacc_decile"
        )
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# MinHash estimator-error calibration
# ---------------------------------------------------------------------------


def _minhash_err_oracle() -> str:
    from cve_manager_spark.plans import pipeline as _pl

    base = _pl._MINHASH_FP_ORACLE
    cut = base.index("), j AS (")
    cte = base[:cut] + ")"
    assert cte.rstrip().endswith(")") and "cand AS (" in cte
    return cte + """
, jm AS (
  SELECT len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS u,
         len(list_filter(range(0, 32), s -> sa.sigs[s+1] = sb.sigs[s+1])) AS m
  FROM cand c JOIN sig sa ON sa.id = c.id_a JOIN sig sb ON sb.id = c.id_b
)
SELECT CAST(LEAST(9, abs(m * 1000000 // 32 - inter * 1000000 // u) // 100000)
            AS INTEGER) AS err_decile,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM jm GROUP BY 1
"""


@_register(
    "minhash_estimate_error",
    _minhash_err_oracle(),
    doc="MinHash estimator-error calibration: for EVERY band-collision "
    "candidate pair, |estimated - exact| Jaccard where the estimate is "
    "matching-signature-elements/32 — the measured accuracy of the "
    "estimator the banding thresholds implicitly trust (expected error "
    "~1/sqrt(32) ~ 0.18; mass above decile 3 means 32 hashes is too "
    "few for the dial setting). Both quantities are exact integers "
    "(ppm div), reusing the dedup_minhash_det pipeline "
    "(operators/dedup.minhash_det_pairs with_counts=True, which now "
    "also emits sig_matches).",
)
def minhash_estimate_error(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators import dedup as D

    pairs = D.minhash_det_pairs(
        load_table(spark, sf, "documents"),
        n=2,
        num_hashes=32,
        bands=16,
        with_counts=True,
    )
    err = F.expr(
        "abs(sig_matches * 1000000 div 32 - inter * 1000000 div union_sz)"
    )
    return pairs.groupBy(
        F.least(F.lit(9), (err / 100000).cast("bigint"))
        .cast("int")
        .alias("err_decile")
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


# ---------------------------------------------------------------------------
# folded from the round10b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# incremental MinHash dedup — the third incremental modality
# ---------------------------------------------------------------------------

_MINHASH_INCR_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
  FROM documents
), sh AS (
  SELECT doc_id AS id, doc_id % 5 = 4 AS is_new,
         list_distinct(CASE WHEN len(w) >= 2
           THEN list_transform(range(1, len(w)), i -> array_to_string(w[i:i+1], ' '))
           ELSE [] END) AS shingles
  FROM toks
), ne AS (
  SELECT id, is_new, shingles FROM sh WHERE len(shingles) > 0
), sig AS (
  SELECT id, is_new, shingles,
         list_transform(range(0, 32), s ->
           list_min(list_transform(shingles, x -> md5(CAST(s AS VARCHAR) || ':' || x)))) AS sigs
  FROM ne
), keys AS (
  SELECT id, is_new, b, sigs[b*2+1] || '|' || sigs[b*2+2] AS bkey
  FROM (SELECT id, is_new, sigs, unnest(range(0, 16)) AS b FROM sig)
), cand AS (
  SELECT DISTINCT nw.id AS id_new, old.id AS id_old
  FROM keys nw JOIN keys old ON nw.b = old.b AND nw.bkey = old.bkey
  WHERE nw.is_new AND NOT old.is_new
), j AS (
  SELECT c.id_new, c.id_old,
         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
         len(sa.shingles) + len(sb.shingles)
           - len(list_intersect(sa.shingles, sb.shingles)) AS un
  FROM cand c JOIN ne sa ON sa.id = c.id_new JOIN ne sb ON sb.id = c.id_old
)
SELECT id_new, CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN inter * 2 >= un THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dups
FROM j GROUP BY id_new
"""


@_register(
    "minhash_incremental_dups",
    _MINHASH_INCR_ORACLE,
    doc="Incremental MinHash near-dup gate — the third incremental "
    "modality next to dedup_incremental (exact digests) and "
    "semantic_dedup_incremental (embedding cells): NEW-snapshot docs "
    "(doc_id %% 5 == 4) probe the OLD corpus through the deterministic "
    "md5 minhash family (32 hashes, 16 bands x 2 rows — "
    "dedup_minhash_det's engine-reproducible pipeline), candidates = "
    "new x old band collisions only (directional equi-join, never "
    "old x old), verified by exact integer Jaccard >= 0.5 via "
    "cross-multiplication (inter*2 >= union — no float). Emits per "
    "new doc its old-side candidate and verified-dup counts. At scale "
    "old signatures are precomputed index state; the one tagged scan "
    "here mirrors dedup_incremental's shape.",
)
def minhash_incremental_dups(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.dedup import word_shingles

    docs = fan_out(load_table(spark, sf, "documents"))
    sh = docs.select(
        F.col("doc_id").alias("id"),
        (F.col("doc_id") % 5 == 4).alias("is_new"),
        word_shingles(F.col("text"), 2).alias("shingles"),
    ).where(F.size("shingles") > 0)
    num_hashes, bands, rpb = 32, 16, 2
    sig_aggs = [
        F.min(F.md5(F.concat(F.lit(f"{s}:"), F.col("sh")))).alias(f"s{s}")
        for s in range(num_hashes)
    ]
    sigs = (
        sh.select("id", "is_new", F.explode("shingles").alias("sh"))
        .groupBy("id", "is_new")
        .agg(*sig_aggs)
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                "|", *[F.col(f"s{b * rpb + r}") for r in range(rpb)]
            ).alias("key"),
        )
        for b in range(bands)
    ]
    keys = sigs.select(
        "id", "is_new", F.explode(F.array(*band_structs)).alias("bk")
    ).select("id", "is_new", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    new_k = keys.where(F.col("is_new")).select(
        F.col("id").alias("id_new"), "band", "key"
    )
    old_k = keys.where(~F.col("is_new")).select(
        F.col("id").alias("id_old"), "band", "key"
    )
    cand = (
        new_k.join(old_k, ["band", "key"]).select("id_new", "id_old").distinct()
    )
    pairs = cand.join(
        sh.select(F.col("id").alias("id_new"), F.col("shingles").alias("__sa")),
        "id_new",
    ).join(
        sh.select(F.col("id").alias("id_old"), F.col("shingles").alias("__sb")),
        "id_old",
    )
    inter = F.size(F.array_intersect("__sa", "__sb")).cast("bigint")
    un = F.size("__sa").cast("bigint") + F.size("__sb").cast("bigint") - inter
    j = pairs.select("id_new", inter.alias("inter"), un.alias("un"))
    dup = F.when(F.col("inter") * 2 >= F.col("un"), 1).otherwise(0)
    return j.groupBy("id_new").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(dup).cast("bigint").alias("n_dups"),
    )
