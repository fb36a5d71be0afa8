"""SemDeDup-style semantic dedup queries (cluster-then-compare).

Three stages of the pipeline, each oracle-paired (the float-free
quantization contract in operators/semantic.py is what makes a k-means
differential possible at all — every distance, argmin, centroid update
and cosine test is exact integer arithmetic both engines reproduce
bit-for-bit):

- ``embedding_kmeans``   — the deterministic Lloyd's assignment itself;
- ``semantic_dedup``     — near-dup pairs WITHIN clusters (the SemDeDup
                            prune: k small self-joins instead of one
                            all-pairs cosine join);
- ``semantic_dedup_keep`` — the keep/drop roll-up per cluster (greedy
                            keep-lowest-id, the usual SemDeDup policy).

The cosine threshold τ = 0.35 matches dedup_embedding's LSH pipeline so
the two near-dup paths are comparable; the test cos(a,b) ≥ τ is
cross-multiplied to 400·dot² ≥ 49·|a|²·|b|² (0.35² = 49/400 exactly)
over 128-bit integers — no sqrt, no division, no floats.

At 100 TB: the only data-sized shuffles are the k·d-row centroid update
per iteration and the cluster-keyed self-join whose per-cluster size is
controlled by choosing k ∝ corpus/target-cluster-size (SemDeDup uses
~11k clusters for LAION-scale); with k far below the partition count
the cluster key is deliberately low-cardinality, which AQE's skew-join
splitting handles (same hatch as operators/skew.py documents).
"""

from __future__ import annotations

import dataclasses

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from cve_manager_spark.operators.semantic import kmeans_quantized
from cve_manager_spark.functions.helpers import (
    dec,
    dec_sum,
    fan_out,
    long_array_lit,
    long_matrix_lit,
)
from cve_manager_spark.plans.spec import QuerySpec, registrar
from cve_manager_spark.sources.testdata import load_table

SPECS: list[QuerySpec] = []
_register = registrar(SPECS)


# Shared oracle prefix: quantize → seed on the 8 lowest vec_ids → two
# unrolled Lloyd iterations. list_dot_product runs in double but every
# operand is an exact integer ≤ 2.6e14 ≪ 2^53, so the BIGINT cast is
# exact; floor(sum/count) matches Spark's update (see operators/semantic
# module docstring for the boundary argument).
_KMEANS_CTE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
), c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, q AS c
  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT 8)
), d1 AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q AS DOUBLE[]), CAST(c AS DOUBLE[]))
            + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)
           AS dist
  FROM e CROSS JOIN c0
), a1 AS (
  SELECT vec_id, q, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1) WHERE rn = 1
), x1 AS (
  SELECT cid, generate_subscripts(q, 1) AS pos, unnest(q) AS val FROM a1
), u1 AS (
  SELECT cid, pos,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM x1 GROUP BY cid, pos
), c1 AS (
  SELECT c0.cid, COALESCE(nc.c, c0.c) AS c
  FROM c0 LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c FROM u1 GROUP BY cid) nc
    ON c0.cid = nc.cid
), d2 AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q AS DOUBLE[]), CAST(c AS DOUBLE[]))
            + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)
           AS dist
  FROM e CROSS JOIN c1
), b2 AS (
  SELECT vec_id, q, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2) WHERE rn = 1
), x2 AS (
  SELECT cid, generate_subscripts(q, 1) AS pos, unnest(q) AS val FROM b2
), u2 AS (
  SELECT cid, pos,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM x2 GROUP BY cid, pos
), c2 AS (
  SELECT c1.cid, COALESCE(nc.c, c1.c) AS c
  FROM c1 LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c FROM u2 GROUP BY cid) nc
    ON c1.cid = nc.cid
), d3 AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q AS DOUBLE[]), CAST(c AS DOUBLE[]))
            + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)
           AS dist
  FROM e CROSS JOIN c2
), a2 AS (
  SELECT vec_id, q, cid, dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d3) WHERE rn = 1
)
"""

_PAIRS_CTE = _KMEANS_CTE + """
, n AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS qq
  FROM a2
), pairs AS (
  SELECT a.cid AS cluster, a.vec_id AS vec_a, b.vec_id AS vec_b,
         CAST(list_dot_product(CAST(a.q AS DOUBLE[]), CAST(b.q AS DOUBLE[]))
              AS BIGINT) AS dot_q,
         a.qq AS na, b.qq AS nb
  FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
), dup AS (
  SELECT cluster, vec_a, vec_b, dot_q FROM pairs
  WHERE dot_q > 0
    AND CAST(dot_q AS HUGEINT) * dot_q * 400
        >= CAST(na AS HUGEINT) * nb * 49
)
"""


_KMEANS_ORACLE = _KMEANS_CTE + """
SELECT vec_id, CAST(cid AS INTEGER) AS cluster, dist AS dist_q FROM a2
"""


@_register(
    "embedding_kmeans",
    _KMEANS_ORACLE,
    doc="Deterministic k-means over the corpus embeddings (k=8, 2 Lloyd "
    "iterations, quantized-integer metric — operators/semantic.py). "
    "The clustering that powers SemDeDup and IVF indexing, made "
    "oracle-pairable: seeds are the k lowest vec_ids, ties break to "
    "the lowest cluster, updates floor(sum/count), so DuckDB unrolls "
    "the same two iterations and matches every assignment exactly. "
    "Assignment is map-side (centroid literals), the update is one "
    "k·d-row hash aggregate, and the driver only ever sees k·d "
    "centroid scalars per iteration — the pyspark.ml KMeans contract, "
    "with the RNG and float drift removed.",
)
def embedding_kmeans(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    out = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    return out.select("vec_id", "cluster", "dist_q")


_DEDUP_ORACLE = _PAIRS_CTE + """
SELECT cluster, vec_a, vec_b, dot_q FROM dup
"""


@_register(
    "semantic_dedup",
    _DEDUP_ORACLE,
    doc="SemDeDup near-duplicate pairs: cosine ≥ 0.35 tested ONLY within "
    "a k-means cluster — the cluster assignment replaces the O(n²) "
    "all-pairs cosine join with k self-joins whose size is controlled "
    "by k (SemDeDup, arXiv:2303.09540). The cosine test is exact: "
    "400·dot² ≥ 49·|a|²·|b|² over 128-bit ints (Spark DECIMAL(38,0), "
    "DuckDB HUGEINT), dot > 0 guards the square. Same τ as "
    "dedup_embedding's hyperplane-LSH path, so the two near-dup "
    "strategies are directly comparable on the same table. The "
    "self-join shuffles on the low-cardinality cluster key — the "
    "documented AQE-skew-split case.",
)
def semantic_dedup(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    a = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    return _dup_pairs(a)


def _dup_pairs(a: DataFrame) -> DataFrame:
    left = a.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_a"),
        F.col("q").alias("qa"),
        F.col("qq").alias("na"),
    )
    right = a.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("q").alias("qb"),
        F.col("qq").alias("nb"),
    )
    p = left.join(
        right,
        (F.col("cluster") == F.col("cluster_b")) & (F.col("vec_a") < F.col("vec_b")),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    p = p.withColumn("dot_q", dot)
    d19 = F.col("dot_q").cast("decimal(19,0)")
    lhs = d19 * d19 * F.lit(400)
    rhs = F.col("na").cast("decimal(19,0)") * F.col("nb").cast("decimal(19,0)") * F.lit(49)
    return (
        p.where((F.col("dot_q") > 0) & (lhs >= rhs))
        .select("cluster", "vec_a", "vec_b", "dot_q")
    )


_KEEP_ORACLE = _PAIRS_CTE + """
, dropped AS (
  SELECT DISTINCT cluster, vec_b FROM dup
)
SELECT a2.cid AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       CAST(COUNT(dropped.vec_b) AS BIGINT) AS n_dropped,
       CAST(COUNT(*) - COUNT(dropped.vec_b) AS BIGINT) AS n_kept
FROM a2 LEFT JOIN dropped
  ON a2.cid = dropped.cluster AND a2.vec_id = dropped.vec_b
GROUP BY a2.cid
"""


@_register(
    "semantic_dedup_keep",
    _KEEP_ORACLE,
    doc="SemDeDup keep/drop roll-up: greedy keep-lowest-id — a vector is "
    "dropped iff some lower-id cluster-mate sits within the cosine "
    "threshold (i.e. it appears as vec_b in at least one dup pair). "
    "Per cluster: members, dropped, kept — the dedup-rate report that "
    "decides whether the threshold/k choice is pruning anything "
    "before the expensive corpus rewrite runs. One distinct-project "
    "of the pair relation and a left anti-style join back to the "
    "assignment.",
)
def semantic_dedup_keep(spark: SparkSession, sf: str) -> DataFrame:
    emb = load_table(spark, sf, "embeddings")
    a = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    dropped = (
        _dup_pairs(a)
        .select(F.col("cluster").alias("dc"), F.col("vec_b").alias("db"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    j = a.select("cluster", "vec_id").join(
        dropped,
        (F.col("cluster") == F.col("dc")) & (F.col("vec_id") == F.col("db")),
        "left",
    )
    return j.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count("is_dropped").alias("n_dropped"),
        (F.count(F.lit(1)) - F.count("is_dropped")).alias("n_kept"),
    )


def _pq_subspace_cte(j: int, w: int, k: int) -> str:
    """Unrolled 2-iteration quantized k-means for subspace ``j`` (slice
    q[j*w+1 : (j+1)*w]) — the per-subspace copy of the _KMEANS_CTE
    pattern, suffixed so m of them compose in one WITH clause. Emits
    ``asg_s{j}`` = (vec_id, cid), the final assignment."""
    lo, hi = j * w + 1, (j + 1) * w
    s = f"_s{j}"
    dist = (
        "CAST(list_dot_product(CAST(qs AS DOUBLE[]), CAST(qs AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST(qs AS DOUBLE[]), CAST(c AS DOUBLE[]))"
        " + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)"
    )
    return f"""e{s} AS (
  SELECT vec_id, q[{lo}:{hi}] AS qs FROM eq
), c0{s} AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, qs AS c
  FROM (SELECT vec_id, qs FROM e{s} ORDER BY vec_id LIMIT {k})
), d1{s} AS (
  SELECT vec_id, qs, cid, {dist} AS dist FROM e{s} CROSS JOIN c0{s}
), a1{s} AS (
  SELECT vec_id, qs, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d1{s}) WHERE rn = 1
), x1{s} AS (
  SELECT cid, generate_subscripts(qs, 1) AS pos, unnest(qs) AS val FROM a1{s}
), u1{s} AS (
  SELECT cid, pos,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM x1{s} GROUP BY cid, pos
), c1{s} AS (
  SELECT c0{s}.cid, COALESCE(nc.c, c0{s}.c) AS c
  FROM c0{s} LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c FROM u1{s} GROUP BY cid) nc
    ON c0{s}.cid = nc.cid
), d2{s} AS (
  SELECT vec_id, qs, cid, {dist} AS dist FROM e{s} CROSS JOIN c1{s}
), b2{s} AS (
  SELECT vec_id, qs, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d2{s}) WHERE rn = 1
), x2{s} AS (
  SELECT cid, generate_subscripts(qs, 1) AS pos, unnest(qs) AS val FROM b2{s}
), u2{s} AS (
  SELECT cid, pos,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cv
  FROM x2{s} GROUP BY cid, pos
), c2{s} AS (
  SELECT c1{s}.cid, COALESCE(nc.c, c1{s}.c) AS c
  FROM c1{s} LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c FROM u2{s} GROUP BY cid) nc
    ON c1{s}.cid = nc.cid
), d3{s} AS (
  SELECT vec_id, qs, cid, {dist} AS dist FROM e{s} CROSS JOIN c2{s}
), asg{s} AS (
  SELECT vec_id, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM d3{s}) WHERE rn = 1
)"""


def _pq_codes_oracle(m: int = 4, w: int = 16, k: int = 8) -> str:
    """Machine-built oracle: m unrolled per-subspace k-means + the code
    array assembly. One WITH clause; each subspace replays the identical
    deterministic Lloyd's the Spark pq_train runs in shared passes."""
    parts = [
        """eq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
)"""
    ]
    parts += [_pq_subspace_cte(j, w, k) for j in range(m)]
    joins = " ".join(
        f"JOIN asg_s{j} ON asg_s0.vec_id = asg_s{j}.vec_id" for j in range(1, m)
    )
    # scalar code columns, NOT an array: the driver's canonicalizer sorts
    # result frames through pandas and cannot hash array cells
    # (CORRECTNESS_r06.json pq_codes: "unhashable type: numpy.ndarray")
    code = ", ".join(f"asg_s{j}.cid AS code_{j}" for j in range(m))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT asg_s0.vec_id AS vec_id, {code}"
        + f"\nFROM asg_s0 {joins}"
    )


@_register(
    "pq_codes",
    _pq_codes_oracle(),
    doc="Product-quantizer encode, hash-checked: m=4 subspace codebooks "
    "(k=8, two Lloyd iterations — every subspace trained in the SAME "
    "shared passes, operators/similarity.pq_train) and the per-vector "
    "code array assigned map-side. The oracle is MACHINE-BUILT: four "
    "unrolled copies of the quantized-k-means CTE, one per slice — "
    "possible only because of the integer quantization contract, and "
    "the hash-checked face of the rows-only ann_pq retrieval (same "
    "role embedding_kmeans plays for semantic_dedup). Codes surface as "
    "four scalar INT columns code_0..code_3 (not array<int>: the driver "
    "canonicalizer cannot hash array cells — r6 red row).",
)
def pq_codes(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.similarity import pq_encode, pq_train

    emb = load_table(spark, sf, "embeddings")
    books = pq_train(emb, m=4, k=8, iters=2)
    return pq_encode(emb, books).select(
        "vec_id",
        *[
            F.element_at("pq_code", j + 1).cast("int").alias(f"code_{j}")
            for j in range(4)
        ],
    )


# ---------------------------------------------------------------------------
# deterministic PCA and its applications (folded from the round-9d
# tranche): embedding_pca_power verifies operators/semantic.
# pca_power_top — a two-iteration integer power method — against a
# fully-unrolled DuckDB oracle (the k-means-CTE discipline applied to
# an iterative linear-algebra kernel); pca_projection_by_label is the
# "all-but-the-top" common-direction diagnostic. Determinism:
# quantized BIGINT vectors, floor means, exact in-row dots,
# floor(y/1e6) rescales provably > 100 ulps from integer boundaries,
# driver renormalize as sign(w) * (|w| * 1e6 // max|w|) — truncation
# toward zero, matching DuckDB HUGEINT //.
# ---------------------------------------------------------------------------


# Shared oracle prefix: quantize, center, two unrolled power iterations.
# v0 = e_1 at scale 1 (iteration 1 needs no y rescale: y = x_.1 is small);
# from iteration 2 on y is floored by 1e6 to keep w inside BIGINT.
_PCA_CTE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
), t AS (
  SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS val FROM e
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
), mu AS (
  SELECT pos,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT)
           AS m
  FROM t GROUP BY pos
), x AS (
  SELECT t.vec_id, t.pos, t.val - mu.m AS xv FROM t JOIN mu USING (pos)
), y1 AS (
  SELECT vec_id, xv AS yq FROM x WHERE pos = 1
), w1 AS (
  SELECT x.pos, CAST(SUM(x.xv * y1.yq) AS BIGINT) AS w
  FROM x JOIN y1 USING (vec_id) GROUP BY x.pos
), m1 AS (
  SELECT MAX(abs(w)) AS mw FROM w1
), v1 AS (
  SELECT pos,
         CAST(CAST(w AS HUGEINT) * 1000000 // (SELECT mw FROM m1) AS BIGINT)
           AS v
  FROM w1
), y2 AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v1.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS yq
  FROM x JOIN v1 USING (pos) GROUP BY x.vec_id
), w2 AS (
  SELECT x.pos, CAST(SUM(x.xv * y2.yq) AS BIGINT) AS w
  FROM x JOIN y2 USING (vec_id) GROUP BY x.pos
), m2 AS (
  SELECT MAX(abs(w)) AS mw FROM w2
), v2 AS (
  SELECT pos,
         CAST(CAST(w AS HUGEINT) * 1000000 // (SELECT mw FROM m2) AS BIGINT)
           AS v
  FROM w2
)
"""


@_register(
    "embedding_pca_power",
    _PCA_CTE
    + """
SELECT CAST(pos - 1 AS INTEGER) AS dim, v AS loading FROM v2
""",
    doc="Top principal direction of the embedding corpus by a "
    "two-iteration DETERMINISTIC integer power method "
    "(operators/semantic.pca_power_top) — the exactly-reproducible "
    "core of embedding whitening and 'all-but-the-top' common-"
    "direction removal. Every stage is integer or provably-exact "
    "double (quantize, floor-mean centering, in-row dot products, "
    "floor(y/1e6) rescale, Python-bigint // renormalize == DuckDB "
    "HUGEINT //); the oracle unrolls both iterations as chained CTEs "
    "exactly like the k-means oracle. Cluster cost per iteration: ONE "
    "pass with d map-side-combinable sums, d+1 scalars to the driver "
    "(the kmeans_quantized contract); no join, no shuffle beyond the "
    "global-aggregate exchange.",
)
def embedding_pca_power(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import pca_power_top

    emb = load_table(spark, sf, "embeddings")
    return pca_power_top(emb, vec_col="embedding", id_col="vec_id", iters=2)


@_register(
    "pca_projection_by_label",
    _PCA_CTE
    + """
, proj AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v2.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS p
  FROM x JOIN v2 USING (pos) GROUP BY x.vec_id
)
SELECT e2.label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(proj.p) AS BIGINT) AS sum_proj,
       CAST(MIN(proj.p) AS BIGINT) AS min_proj,
       CAST(MAX(proj.p) AS BIGINT) AS max_proj
FROM proj JOIN embeddings e2 ON proj.vec_id = e2.vec_id
GROUP BY e2.label
""",
    doc="Projection of every embedding onto the corpus top principal "
    "direction, aggregated per label — the 'all-but-the-top' "
    "diagnostic: labels whose projection ranges barely overlap are "
    "separated by the COMMON direction (so removing it would hurt), "
    "while identical ranges mean the top PC is label-noise (frequency "
    "artifact) and should be projected out before cosine retrieval. "
    "Projections are the same exact-integer y pipeline as the power "
    "iteration (floor(dot/1e6)); one extra corpus pass + a label "
    "aggregate.",
)
def pca_projection_by_label(spark: SparkSession, sf: str) -> DataFrame:
    import math

    from cve_manager_spark.operators.semantic import (
        pca_power_top,
        quantize_vec,
    )

    emb = load_table(spark, sf, "embeddings")
    v_rows = pca_power_top(
        emb, vec_col="embedding", id_col="vec_id", iters=2
    ).collect()
    v = [0] * len(v_rows)
    for r in v_rows:
        v[r["dim"]] = r["loading"]

    q = emb.select(
        "vec_id", "label", quantize_vec(F.col("embedding")).alias("q")
    )
    sums = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.element_at("q", j + 1)).alias(f"s{j}")
            for j in range(len(v))
        ],
    ).head()
    n = sums["n"]
    mu = [math.floor(sums[f"s{j}"] / n) for j in range(len(v))]
    mu_lit = long_array_lit(mu)
    v_lit = long_array_lit(v)
    x = q.select(
        "vec_id",
        "label",
        F.zip_with("q", mu_lit, lambda a, b: a - b).alias("x"),
    )
    dot = F.aggregate(
        F.zip_with("x", v_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    p = F.floor(dot.cast("double") / F.lit(1000000.0)).cast("long")
    return x.select("label", p.alias("p")).groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("p").cast("bigint").alias("sum_proj"),
        F.min("p").cast("bigint").alias("min_proj"),
        F.max("p").cast("bigint").alias("max_proj"),
    )


# ---------------------------------------------------------------------------
# embedding drift monitor (round 10): PSI-style bucket histogram over the
# corpus top-PC projection, reference window vs current window.
# ---------------------------------------------------------------------------


def _drift_oracle() -> str:
    return _PCA_CTE + """
, proj AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v2.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS p
  FROM x JOIN v2 USING (pos) GROUP BY x.vec_id
), pr AS (
  SELECT CAST(vec_id % 2 AS INTEGER) AS win, p FROM proj
), st AS (
  SELECT MIN(p) AS pmin, MAX(p) AS pmax,
         SUM(CASE WHEN win = 0 THEN 1 ELSE 0 END) AS nrt,
         SUM(CASE WHEN win = 1 THEN 1 ELSE 0 END) AS nct
  FROM pr
), g AS (
  SELECT CAST((pr.p - st.pmin) * 16 // (st.pmax - st.pmin + 1) AS INTEGER)
           AS bucket,
         SUM(CASE WHEN pr.win = 0 THEN 1 ELSE 0 END) AS n_ref,
         SUM(CASE WHEN pr.win = 1 THEN 1 ELSE 0 END) AS n_cur
  FROM pr, st GROUP BY 1
)
SELECT g.bucket,
       CAST(g.n_ref AS BIGINT) AS n_ref,
       CAST(g.n_cur AS BIGINT) AS n_cur,
       CAST(g.n_ref * 1000000 // st.nrt AS BIGINT) AS ppm_ref,
       CAST(g.n_cur * 1000000 // st.nct AS BIGINT) AS ppm_cur,
       CAST(g.n_cur * 1000000 // st.nct
            - g.n_ref * 1000000 // st.nrt AS BIGINT) AS delta_ppm
FROM g, st
"""


@_register(
    "embedding_drift_buckets",
    _drift_oracle(),
    doc="Embedding-distribution drift monitor: project every vector onto "
    "the corpus top principal direction (the exact-integer power-method "
    "pipeline of embedding_pca_power), histogram the projection into 16 "
    "equal-width buckets between the global min/max, and compare the "
    "REFERENCE window against the CURRENT window per bucket — counts "
    "plus ppm shares plus the signed per-bucket share delta, i.e. the "
    "exact-integer inputs of a PSI / total-variation drift score (the "
    "transcendental ln of PSI stays OUT of the engine, computed driver-"
    "side over these 16 rows; sum(|delta_ppm|)/2e6 IS the total "
    "variation distance). Windows here are the vec_id-parity A/A split "
    "— the null-drift calibration run every monitor needs; in "
    "production the windows are crawl snapshots and the reference "
    "histogram is a frozen artifact. Cluster cost: the PCA passes (one "
    "d-sum aggregate per iteration), one projection pass, a 1-row "
    "stats broadcast, and a 16-key partial-agg'd groupBy — no shuffle "
    "carries vector payloads, and the monitor's per-window state is 16 "
    "integers regardless of corpus size.",
)
def embedding_drift_buckets(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import (
        drift_fit,
        drift_projection,
    )

    from cve_manager_spark.plans.artifacts import frozen

    emb = load_table(spark, sf, "embeddings")
    # frozen artifact: trained once per (sf, recipe) and shared with
    # drift_escape_report / repeat invocations (plans/artifacts.py) —
    # the monitor's contract is map-side apply, not per-query retrain
    mu, v = frozen(
        ("drift_fit", sf, "embeddings", 2),
        lambda: drift_fit(emb, vec_col="embedding", id_col="vec_id", iters=2),
    )
    pr = drift_projection(emb, mu, v).select(
        (F.col("vec_id") % 2).cast("int").alias("win"), "p"
    )
    stats = pr.agg(
        F.min("p").alias("pmin"),
        F.max("p").alias("pmax"),
        F.sum(F.when(F.col("win") == 0, 1).otherwise(0))
        .cast("long")
        .alias("nrt"),
        F.sum(F.when(F.col("win") == 1, 1).otherwise(0))
        .cast("long")
        .alias("nct"),
    )
    g = (
        pr.crossJoin(F.broadcast(stats))
        .select(
            F.expr("CAST((p - pmin) * 16 div (pmax - pmin + 1) AS INT)")
            .alias("bucket"),
            "win",
            "nrt",
            "nct",
        )
        .groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("win") == 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_ref"),
            F.sum(F.when(F.col("win") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_cur"),
            F.max("nrt").alias("nrt"),
            F.max("nct").alias("nct"),
        )
    )
    return g.select(
        "bucket",
        "n_ref",
        "n_cur",
        F.expr("CAST(n_ref * 1000000 div nrt AS BIGINT)").alias("ppm_ref"),
        F.expr("CAST(n_cur * 1000000 div nct AS BIGINT)").alias("ppm_cur"),
        F.expr(
            "CAST(n_cur * 1000000 div nct - n_ref * 1000000 div nrt AS BIGINT)"
        ).alias("delta_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round10 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# cross-snapshot (incremental) semantic dedup — SemDeDup without retrain
# ---------------------------------------------------------------------------


def _incr_semantic_cte() -> str:
    """Rescoped k-means unroll (base = vec_id %% 5 <> 4, k=8) + delta
    assignment against the FROZEN final centroids — the
    _ivf_delta_oracle composition, kept with q available for pair
    cosines."""
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    cte = _KMEANS_CTE
    assert cte.count("FROM embeddings") == 1
    cte = cte.replace("FROM embeddings", "FROM embeddings WHERE vec_id % 5 <> 4")
    return cte + """
, ed AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % 5 = 4
), dd AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q AS DOUBLE[]), CAST(c AS DOUBLE[]))
            + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)
           AS dist
  FROM ed CROSS JOIN c2
), ad AS (
  SELECT vec_id, q, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dd) WHERE rn = 1
)
"""


def _incr_dup_oracle() -> str:
    return _incr_semantic_cte() + """
, bn AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS qq
  FROM a2
), dn AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS qq
  FROM ad
), pr AS (
  SELECT dn.vec_id AS vec_new, bn.vec_id AS vec_old,
         CAST(list_dot_product(CAST(dn.q AS DOUBLE[]), CAST(bn.q AS DOUBLE[]))
              AS BIGINT) AS dot_q,
         dn.qq AS na, bn.qq AS nb
  FROM dn JOIN bn ON dn.cid = bn.cid
), dup AS (
  SELECT vec_new, vec_old, dot_q FROM pr
  WHERE dot_q > 0
    AND CAST(dot_q AS HUGEINT) * dot_q * 400
        >= CAST(na AS HUGEINT) * nb * 49
), rk AS (
  SELECT vec_new, vec_old, dot_q,
         ROW_NUMBER() OVER (PARTITION BY vec_new
                            ORDER BY dot_q DESC, vec_old) AS rn,
         COUNT(*) OVER (PARTITION BY vec_new) AS n
  FROM dup
)
SELECT vec_new, CAST(n AS BIGINT) AS n_dup_base,
       vec_old AS best_old, dot_q AS best_dot
FROM rk WHERE rn = 1
"""


def _incr_assignments(spark: SparkSession, sf: str):
    """Shared Spark half: frozen-cell base + delta assignments, each as
    (vec_id, q, qq, cluster). Training sees ONLY the base snapshot; the
    delta pass is map-side against centroid literals (no join, no
    shuffle, no retrain) — encode(base ∪ delta) == encode(base) ∪
    encode(delta), the ivf_pq_upsert contract."""
    from cve_manager_spark.operators.semantic import (
        assign_clusters,
        dot_self,
        kmeans_fit,
        quantize_vec,
    )

    from cve_manager_spark.plans.artifacts import frozen

    emb = load_table(spark, sf, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 4)
    delta = emb.where(F.col("vec_id") % 5 == 4)
    # frozen base-trained codebook (the contract: the codebook never
    # sees the delta and is NOT retrained per query) — trained once per
    # (sf, recipe) and shared across the incremental-dedup spec family
    cents = frozen(
        ("incr_codebook", sf, "embeddings", 8, 2),
        lambda: kmeans_fit(
            base, vec_col="embedding", id_col="vec_id", k=8, iters=2
        )[1],
    )

    def prep(side: DataFrame) -> DataFrame:
        q = side.select(
            "vec_id", quantize_vec(F.col("embedding")).alias("q")
        ).withColumn("qq", dot_self(F.col("q")))
        return assign_clusters(q, cents)

    return prep(base), prep(delta), len(cents)


@_register(
    "semantic_dedup_incremental",
    _incr_dup_oracle(),
    doc="Cross-snapshot SemDeDup: which NEW-snapshot embeddings "
    "(vec_id %% 5 == 4) semantically duplicate the EXISTING corpus, "
    "WITHOUT retraining — k-means cells are fit on the base snapshot "
    "only (k=8, 2 Lloyd iterations), the delta assigns map-side "
    "against the frozen centroids (the ivf_pq_upsert delta-encode "
    "shape), and candidate pairs are delta x base WITHIN a cell only, "
    "kept at exact integer cosine >= 0.35 by cross-multiplication "
    "(dot^2*400 >= |a|^2|b|^2*49, dot > 0). Emits per new vec its "
    "base-duplicate count and the best (highest-dot, lowest-id) base "
    "match — the nightly-ingest dedup gate at 100 TB: one frozen-"
    "meta encode pass + one cell-bucketed join, never all-pairs, "
    "never a retrain.",
)
def semantic_dedup_incremental(spark: SparkSession, sf: str) -> DataFrame:
    ab, ad, _ = _incr_assignments(spark, sf)
    # deterministic cell-salt, same rationale as dup_dominated(n_salt=):
    # the delta side replicates (small by construction), the base side
    # takes pmod(id) — each pair meets once, hot cells split 16 ways,
    # and the explicit repartition pins the per-pair cosine arithmetic
    # to the shuffle width instead of AQE's byte-coalesced 1-2 tasks
    n_salt = 16
    npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
    left = ad.select(
        F.col("cluster"),
        F.col("vec_id").alias("vec_new"),
        F.col("q").alias("qa"),
        F.col("qq").alias("na"),
    ).withColumn(
        "__s", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1)))
    ).repartition(npart, "cluster", "__s")
    right = ab.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("vec_old"),
        F.col("q").alias("qb"),
        F.col("qq").alias("nb"),
    ).withColumn(
        "__s_o", F.pmod(F.col("vec_old"), F.lit(n_salt)).cast("int")
    ).repartition(npart, "cluster_b", "__s_o")
    p = left.join(
        right,
        (F.col("cluster") == F.col("cluster_b"))
        & (F.col("__s") == F.col("__s_o")),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    p = p.withColumn("dot_q", dot)
    d19 = F.col("dot_q").cast("decimal(19,0)")
    lhs = d19 * d19 * F.lit(400)
    rhs = (
        F.col("na").cast("decimal(19,0)")
        * F.col("nb").cast("decimal(19,0)")
        * F.lit(49)
    )
    dup = p.where((F.col("dot_q") > 0) & (lhs >= rhs))
    best = F.max(F.struct(F.col("dot_q"), (-F.col("vec_old")).alias("neg")))
    return (
        dup.groupBy("vec_new")
        .agg(F.count(F.lit(1)).alias("n_dup_base"), best.alias("b"))
        .select(
            "vec_new",
            "n_dup_base",
            (-F.col("b.neg")).cast("bigint").alias("best_old"),
            F.col("b.dot_q").alias("best_dot"),
        )
    )


@_register(
    "semantic_cell_drift",
    _incr_semantic_cte() + """
SELECT CAST(c2.cid AS INTEGER) AS list_id,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n_base,
       CAST(COALESCE(d.n, 0) AS BIGINT) AS n_delta,
       CAST(CASE WHEN COALESCE(b.n, 0) + COALESCE(d.n, 0) = 0 THEN 0
            ELSE COALESCE(d.n, 0) * 1000000
                 // (COALESCE(b.n, 0) + COALESCE(d.n, 0)) END AS BIGINT)
         AS delta_ppm
FROM c2
LEFT JOIN (SELECT cid, COUNT(*) AS n FROM a2 GROUP BY cid) b ON c2.cid = b.cid
LEFT JOIN (SELECT cid, COUNT(*) AS n FROM ad GROUP BY cid) d ON c2.cid = d.cid
""",
    doc="Distribution-drift monitor for the frozen-cell incremental "
    "index: per cell, base-snapshot vs delta-snapshot member counts "
    "and the delta share in ppm. A cell whose delta_ppm is far above "
    "the global delta fraction is where the new data's geometry "
    "drifts from the training corpus — the retrain trigger the "
    "upsert-between-rebuilds trade relies on. Two cell-keyed "
    "aggregates over assignments already computed map-side; the "
    "k-row spine comes from the centroid list itself.",
)
def semantic_cell_drift(spark: SparkSession, sf: str) -> DataFrame:
    ab, ad, k = _incr_assignments(spark, sf)
    spine = spark.range(0, k).select(F.col("id").cast("int").alias("list_id"))
    nb = ab.groupBy(F.col("cluster").alias("list_id")).agg(
        F.count(F.lit(1)).alias("n_b")
    )
    nd = ad.groupBy(F.col("cluster").alias("list_id")).agg(
        F.count(F.lit(1)).alias("n_d")
    )
    j = (
        spine.join(nb, "list_id", "left")
        .join(nd, "list_id", "left")
        .select(
            "list_id",
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_d", F.lit(0)).cast("bigint").alias("n_delta"),
        )
    )
    return j.withColumn(
        "delta_ppm",
        F.expr(
            "CAST(CASE WHEN n_base + n_delta = 0 THEN 0 "
            "ELSE n_delta * 1000000 div (n_base + n_delta) END AS BIGINT)"
        ),
    )


# ---------------------------------------------------------------------------
# applied PCA: residual norms after removing the top direction
# ---------------------------------------------------------------------------


def _pca_residual_oracle() -> str:
    from cve_manager_spark.plans.semantic import _PCA_CTE

    return _PCA_CTE + """
, proj AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v2.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS p
  FROM x JOIN v2 USING (pos) GROUP BY x.vec_id
), rx AS (
  SELECT x.vec_id, x.xv,
         (x.xv * 1000000 - proj.p * v2.v) // 1000000 AS rd
  FROM x JOIN v2 USING (pos) JOIN proj USING (vec_id)
), pv AS (
  SELECT vec_id, CAST(SUM(xv * xv) AS BIGINT) AS x2,
         CAST(SUM(rd * rd) AS BIGINT) AS r2
  FROM rx GROUP BY vec_id
)
SELECT e2.label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(pv.x2) AS DECIMAL(38,0)) AS DOUBLE) AS sum_x2,
       CAST(CAST(SUM(pv.r2) AS DECIMAL(38,0)) AS DOUBLE) AS sum_r2
FROM pv JOIN embeddings e2 ON pv.vec_id = e2.vec_id
GROUP BY e2.label
"""


@_register(
    "pca_residual_norms",
    _pca_residual_oracle(),
    doc="'All-but-the-top' APPLIED: per label, the exact squared norm "
    "of each centered embedding before (sum_x2) and after (sum_r2) "
    "removing its projection on the corpus top principal direction — "
    "the variance-explained audit that decides whether common-"
    "direction removal is worth a corpus rewrite. Residuals stay "
    "integer: r_j = x_j*1e6 - p*v_j (|r| <= 1.3e14, BIGINT), scaled "
    "back by truncation-toward-zero division (Spark div == DuckDB //, "
    "both -7/2 -> -3), squared in-row (<= 1.1e18, BIGINT), folded "
    "cross-row as DECIMAL(38,0) (exact through ~1e21 rows), and "
    "emitted via one final double cast (the dec_sum convention — both "
    "engines correctly round the same exact decimal). One extra "
    "corpus pass over the power-iteration pipeline.",
)
def pca_residual_norms(spark: SparkSession, sf: str) -> DataFrame:
    import math

    from cve_manager_spark.operators.semantic import (
        pca_power_top,
        quantize_vec,
    )

    emb = load_table(spark, sf, "embeddings")
    v_rows = pca_power_top(
        emb, vec_col="embedding", id_col="vec_id", iters=2
    ).collect()
    v = [0] * len(v_rows)
    for r in v_rows:
        v[r["dim"]] = r["loading"]

    q = emb.select("vec_id", "label", quantize_vec(F.col("embedding")).alias("q"))
    sums = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("q", j + 1)).alias(f"s{j}") for j in range(len(v))],
    ).head()
    n = sums["n"]
    mu = [math.floor(sums[f"s{j}"] / n) for j in range(len(v))]
    mu_lit = long_array_lit(mu)
    v_lit = long_array_lit(v)
    x = q.select(
        "vec_id", "label", F.zip_with("q", mu_lit, lambda a, b: a - b).alias("x")
    )
    dot = F.aggregate(
        F.zip_with("x", v_lit, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e,
    )
    p = F.floor(dot.cast("double") / F.lit(1000000.0)).cast("long")
    xx = x.withColumn("p", p)
    x2 = F.aggregate(
        F.col("x"), F.lit(0).cast("long"), lambda acc, e: acc + e * e
    )

    def rd(a, b):
        # truncation-toward-zero div by 1e6: (val - val % 1e6) is an exact
        # multiple of 1e6 (Java % has the dividend's sign), so the double
        # quotient is exact and matches DuckDB's truncating //
        val = a * F.lit(1000000) - F.col("p") * b
        return (
            (val - val % F.lit(1000000)).cast("double") / F.lit(1000000.0)
        ).cast("long")

    r2 = F.aggregate(
        F.zip_with("x", v_lit, rd),
        F.lit(0).cast("long"),
        lambda acc, e: acc + e * e,
    )
    per = xx.select("label", x2.alias("x2"), r2.alias("r2"))
    # DECIMAL(38,0) fold (exact through ~1e21 rows), one final double cast
    # out — the dec_sum emission convention shared with the money specs
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x2").cast("decimal(38,0)")).cast("double").alias("sum_x2"),
        F.sum(F.col("r2").cast("decimal(38,0)")).cast("double").alias("sum_r2"),
    )


def _frozen_keep_oracle() -> str:
    return _incr_semantic_cte() + """
, allv AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS nq
  FROM a2
  UNION ALL
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS nq
  FROM ad
), dr AS (
  SELECT DISTINCT b.cid, b.vec_id
  FROM allv a JOIN allv b ON a.cid = b.cid AND a.vec_id < b.vec_id
  WHERE CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                              CAST(b.q AS DOUBLE[])) AS BIGINT) > 0
    AND CAST(CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                   CAST(b.q AS DOUBLE[])) AS BIGINT)
             AS HUGEINT)
        * CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                CAST(b.q AS DOUBLE[])) AS BIGINT) * 400
        >= CAST(a.nq AS HUGEINT) * b.nq * 49
), mem AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members FROM allv GROUP BY cid
), drc AS (
  SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dropped FROM dr GROUP BY cid
)
SELECT CAST(mem.cid AS INTEGER) AS cluster, mem.n_members,
       CAST(COALESCE(drc.n_dropped, 0) AS BIGINT) AS n_dropped,
       CAST(mem.n_members - COALESCE(drc.n_dropped, 0) AS BIGINT) AS n_kept
FROM mem LEFT JOIN drc ON mem.cid = drc.cid
"""


@_register(
    "semantic_dedup_frozen_keep",
    _frozen_keep_oracle(),
    doc="The streaming SemDeDup gate's one-shot batch face, oracle-"
    "verified: greedy keep-lowest-id over the WHOLE corpus (base ∪ "
    "delta) under the FROZEN base-trained codebook — exactly the final "
    "seen-table the foreach_batch_semantic_dedup sink converges to "
    "over id-ordered micro-batches (tests/test_streaming.py proves the "
    "stream==batch equality; this spec hash-verifies the batch side "
    "against DuckDB, closing the loop driver-side). Per cell: members, "
    "dropped, kept. Unlike semantic_dedup_keep (codebook retrained on "
    "everything), the codebook here never sees the delta — the "
    "no-retrain nightly-ingest contract. Cell-keyed equi self-join "
    "(never all-pairs), exact-integer cosine in DECIMAL(38,0).",
)
def semantic_dedup_frozen_keep(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import dup_dominated
    ab, ad, _ = _incr_assignments(spark, sf)
    cols = ["vec_id", "q", "qq", "cluster"]
    # persist the encoded corpus: it feeds BOTH sides of the pair join
    # plus the membership count, and re-encoding it per consumer would
    # triple the map-side HOF work (the text_tfidf tf.persist pattern —
    # bench trials clear the SQL cache, so min-of-k still prices the
    # full query). n_salt spreads the per-pair cosine arithmetic across
    # the shuffle width instead of AQE's byte-coalesced couple of cores.
    allv = ab.select(*cols).unionByName(ad.select(*cols)).persist()
    dropped = dup_dominated(allv, allv, n_salt=16).withColumn(
        "__d", F.lit(1)
    )
    j = allv.select("cluster", "vec_id").join(dropped, "vec_id", "left")
    return j.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.count("__d").alias("n_dropped"),
    ).select(
        "cluster",
        "n_members",
        "n_dropped",
        (F.col("n_members") - F.col("n_dropped")).alias("n_kept"),
    )


_DRIFT_ESCAPE_TAIL = """
, proj AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v2.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS p
  FROM x JOIN v2 USING (pos) GROUP BY x.vec_id
), pr AS (
  SELECT CAST(vec_id % 2 AS INTEGER) AS win, p FROM proj
), rb AS (
  SELECT MIN(p) AS pmin, MAX(p) AS pmax,
         CAST(COUNT(*) AS BIGINT) AS n_ref
  FROM pr WHERE win = 0
)
SELECT rb.n_ref,
       CAST(COUNT(*) AS BIGINT) AS n_cur,
       CAST(SUM(CASE WHEN pr.p < rb.pmin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_below,
       CAST(SUM(CASE WHEN pr.p > rb.pmax THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above,
       CAST(SUM(CASE WHEN pr.p < rb.pmin THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS below_ppm,
       CAST(SUM(CASE WHEN pr.p > rb.pmax THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS above_ppm
FROM pr, rb WHERE pr.win = 1 GROUP BY rb.n_ref
"""


@_register(
    "drift_escape_report",
    _PCA_CTE + _DRIFT_ESCAPE_TAIL,
    doc="The drift monitor's ALERT face: how much of the CURRENT window "
    "escapes the reference window's projection range entirely — counts "
    "and exact ppm below pmin and above pmax of the reference (win-0) "
    "projections. The bucketed histogram (embedding_drift_buckets) "
    "sees shape changes INSIDE the range; escape mass is the "
    "out-of-range half — in the streaming twin these are exactly the "
    "rows the frozen-bound bucketizer clamps into edge buckets, so "
    "this report quantifies what the clamp absorbed. One projection "
    "pass, a 1-row reference-bounds broadcast, one conditional "
    "aggregate — per-window state is 4 integers.",
)
def drift_escape_report(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import (
        drift_fit,
        drift_projection,
    )

    from cve_manager_spark.plans.artifacts import frozen

    emb = load_table(spark, sf, "embeddings")
    mu, v = frozen(
        ("drift_fit", sf, "embeddings", 2),
        lambda: drift_fit(emb, vec_col="embedding", id_col="vec_id", iters=2),
    )
    pr = drift_projection(emb, mu, v).select(
        (F.col("vec_id") % 2).cast("int").alias("win"), "p"
    )
    rb = pr.where(F.col("win") == 0).agg(
        F.min("p").alias("pmin"),
        F.max("p").alias("pmax"),
        F.count(F.lit(1)).alias("n_ref"),
    )
    cur = pr.where(F.col("win") == 1).crossJoin(F.broadcast(rb))
    below = F.when(F.col("p") < F.col("pmin"), 1).otherwise(0)
    above = F.when(F.col("p") > F.col("pmax"), 1).otherwise(0)
    return cur.groupBy("n_ref").agg(
        F.count(F.lit(1)).alias("n_cur"),
        F.sum(below).cast("bigint").alias("n_below"),
        F.sum(above).cast("bigint").alias("n_above"),
        F.expr(
            "CAST(sum(CASE WHEN p < pmin THEN 1 ELSE 0 END) * 1000000 "
            "div count(1) AS BIGINT)"
        ).alias("below_ppm"),
        F.expr(
            "CAST(sum(CASE WHEN p > pmax THEN 1 ELSE 0 END) * 1000000 "
            "div count(1) AS BIGINT)"
        ).alias("above_ppm"),
    ).select("n_ref", "n_cur", "n_below", "n_above", "below_ppm", "above_ppm")


_PQ_BALANCE_ORACLE = """
WITH e AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
), t AS (
  SELECT vec_id, generate_subscripts(q, 1) - 1 AS dim, unnest(q) AS val
  FROM e
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e
), mu AS (
  SELECT dim,
         CAST(FLOOR(CAST(SUM(val) AS DOUBLE) / (SELECT n FROM nn)) AS BIGINT)
           AS m
  FROM t GROUP BY dim
), en AS (
  SELECT t.dim,
         CAST(SUM(CAST((t.val - mu.m) AS HUGEINT) * (t.val - mu.m))
              AS DECIMAL(38,0)) AS energy
  FROM t JOIN mu USING (dim) GROUP BY t.dim
), asg AS (
  SELECT dim, energy,
         CAST(dim // 16 AS INTEGER) AS naive_sub,
         CAST((ROW_NUMBER() OVER (ORDER BY energy DESC, dim) - 1) % 4
              AS INTEGER) AS balanced_sub
  FROM en
), nv AS (
  SELECT naive_sub AS subspace,
         CAST(CAST(SUM(energy) AS DECIMAL(38,0)) AS DOUBLE) AS naive_energy
  FROM asg GROUP BY naive_sub
), bl AS (
  SELECT balanced_sub AS subspace,
         CAST(CAST(SUM(energy) AS DECIMAL(38,0)) AS DOUBLE)
           AS balanced_energy
  FROM asg GROUP BY balanced_sub
)
SELECT nv.subspace, nv.naive_energy, bl.balanced_energy
FROM nv JOIN bl ON nv.subspace = bl.subspace
"""


@_register(
    "pq_subspace_balance",
    _PQ_BALANCE_ORACLE,
    doc="OPQ-lite for the product quantizer, deterministic and audited: "
    "instead of a learned rotation (float-iterative, not oracle-"
    "pairable), balance the SUBSPACES by permuting dimensions — rank "
    "dims by exact centered energy sum((q - mu)^2) and deal them "
    "round-robin into the 4 subspaces, the standard cheap OPQ "
    "approximation (dimension permutation captures most of the "
    "rotation's benefit when dims are near-independent). Emits per "
    "subspace the energy under pq_codes' naive contiguous split vs "
    "the balanced split: a large naive spread means one sub-codebook "
    "is starved while another saturates — the signal to adopt the "
    "permutation (it composes freely with pq_train, which treats "
    "dims as opaque positions). Cluster cost: one posexplode pass "
    "with d-key partial aggregates (energy in DECIMAL(38,0) via "
    "HUGEINT-exact products), a d-row ranking window, two 4-key "
    "roll-ups — no vector-sized shuffle.",
)
def pq_subspace_balance(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import quantize_vec

    emb = load_table(spark, sf, "embeddings")
    t = emb.select(
        F.posexplode(quantize_vec(F.col("embedding"))).alias("dim", "val")
    )
    mu = t.groupBy("dim").agg(
        F.floor(
            F.sum("val").cast("double") / F.count(F.lit(1))
        ).cast("long").alias("m"),
        F.sum(
            (F.col("val").cast("decimal(19,0)") * F.col("val")).cast(
                "decimal(38,0)"
            )
        ).alias("s2"),
        F.sum("val").alias("s1"),
        F.count(F.lit(1)).alias("n"),
    )
    # exact centered energy via the moment identity:
    # sum((v-m)^2) = sum(v^2) - 2*m*sum(v) + n*m^2 — one pass, no re-scan
    energy = (
        F.col("s2")
        - (F.col("m").cast("decimal(19,0)") * F.col("s1") * F.lit(2)).cast(
            "decimal(38,0)"
        )
        + (F.col("m").cast("decimal(19,0)") * F.col("m") * F.col("n")).cast(
            "decimal(38,0)"
        )
    ).cast("decimal(38,0)")
    en = mu.select("dim", energy.alias("energy"))
    w = Window.orderBy(F.col("energy").desc(), "dim")  # d rows only
    asg = en.select(
        "dim",
        "energy",
        F.expr("CAST(dim div 16 AS INT)").alias("naive_sub"),
        ((F.row_number().over(w) - 1) % 4).cast("int").alias("balanced_sub"),
    )
    nv = asg.groupBy(F.col("naive_sub").alias("subspace")).agg(
        F.sum("energy").cast("decimal(38,0)").cast("double").alias("naive_energy")
    )
    bl = asg.groupBy(F.col("balanced_sub").alias("subspace")).agg(
        F.sum("energy")
        .cast("decimal(38,0)")
        .cast("double")
        .alias("balanced_energy")
    )
    return nv.join(bl, "subspace")


# ---------------------------------------------------------------------------
# folded from the round6 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# 4. embedding diagnostics
# ---------------------------------------------------------------------------

_NORM_OUTLIER_ORACLE = """
WITH q AS (
  SELECT vec_id,
         CAST(list_sum(list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)
              * CAST(floor(CAST(x AS DOUBLE) * 1000000) AS BIGINT)))
           AS BIGINT) AS norm2q
  FROM embeddings
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(norm2q) AS DOUBLE) AS s1,
         CAST(SUM(CAST(norm2q AS DECIMAL(38,0)) * norm2q) AS DOUBLE) AS s2
  FROM q
)
SELECT vec_id, norm2q,
       ROUND((norm2q - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS z
FROM q CROSS JOIN stats
WHERE abs((norm2q - s1 / n) / sqrt(s2 / n - (s1 / n) * (s1 / n))) >= 2
"""


@_register(
    "embedding_norm_zscore_outliers",
    _NORM_OUTLIER_ORACLE,
    doc="Vectors whose quantized squared L2 norm is ≥2σ from the corpus "
    "mean — the sanity gate that catches unnormalized or degenerate "
    "embeddings before any cosine math trusts them. Norms are exact "
    "BIGINTs (floor(x·1e6)² summed in-row), the corpus moments are "
    "exact (second moment accumulates in DECIMAL(38,0)), so mean/σ/z "
    "are bit-identical across engines and partitionings; z is rounded "
    "to 6dp for the hash. Stats ride as a broadcast 1-row relation.",
)
def embedding_norm_zscore_outliers(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import dot_self, quantize_vec

    emb = fan_out(load_table(spark, sf, "embeddings"))
    q = emb.select(
        "vec_id", dot_self(quantize_vec(F.col("embedding"))).alias("norm2q")
    )
    stats = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("norm2q").cast("double").alias("s1"),
        F.sum(F.col("norm2q").cast("decimal(38,0)") * F.col("norm2q"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    z = (F.col("norm2q") - mean) / F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    return (
        q.crossJoin(F.broadcast(stats))
        .where(F.abs(z) >= 2)
        .select("vec_id", "norm2q", F.round(z, 6).alias("z"))
    )


_LABEL_CENTROID_ORACLE = """
WITH e AS (
  SELECT label, CAST(i AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(1, 65) t(i)
), lbl AS (
  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s
  FROM e GROUP BY label, dim
), gsum AS (
  SELECT dim, CAST(SUM(s) AS BIGINT) AS g FROM lbl GROUP BY dim
), dots AS (
  SELECT label,
         CAST(SUM(CAST(s AS DECIMAL(38,0)) * g) AS DOUBLE) AS dot_lg,
         CAST(SUM(CAST(s AS DECIMAL(38,0)) * s) AS DOUBLE) AS dot_ll,
         CAST(SUM(CAST(g AS DECIMAL(38,0)) * g) AS DOUBLE) AS dot_gg
  FROM lbl JOIN gsum USING (dim) GROUP BY label
), n AS (
  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs FROM embeddings GROUP BY label
)
SELECT dots.label, n.n_vecs,
       ROUND(dot_lg / (sqrt(dot_ll) * sqrt(dot_gg)), 6) AS centroid_cos
FROM dots JOIN n ON dots.label = n.label
"""


@_register(
    "label_centroid_cosine",
    _LABEL_CENTROID_ORACLE,
    doc="Cosine of each label's centroid direction against the global "
    "centroid — the class-drift diagnostic (a label pointing away "
    "from the corpus mean is either signal or contamination). "
    "Component sums are exact BIGINTs over quantized values "
    "(posexplode → (label, dim) grain, 64·|labels| rows), dot "
    "products accumulate in DECIMAL(38,0) (bigint·bigint at sf1 "
    "overflows long), and only the final cosine divides in double, "
    "rounded to 6dp. Un-normalized centroid SUMS share the direction "
    "of the mean, so the cosine is identical and no division by n "
    "ever happens.",
)
def label_centroid_cosine(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import quantize_vec

    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select(
        "label", F.posexplode(quantize_vec(F.col("embedding"))).alias("dim0", "qv")
    ).select("label", (F.col("dim0") + 1).alias("dim"), "qv")
    lbl = e.groupBy("label", "dim").agg(F.sum("qv").alias("s"))
    glob = lbl.groupBy("dim").agg(F.sum("s").alias("g"))
    dots = (
        lbl.join(F.broadcast(glob), "dim")
        .groupBy("label")
        .agg(
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("g"))
            .cast("double")
            .alias("dot_lg"),
            F.sum(F.col("s").cast("decimal(38,0)") * F.col("s"))
            .cast("double")
            .alias("dot_ll"),
            F.sum(F.col("g").cast("decimal(38,0)") * F.col("g"))
            .cast("double")
            .alias("dot_gg"),
        )
    )
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return dots.join(n, "label").select(
        "label",
        "n_vecs",
        F.round(
            F.col("dot_lg") / (F.sqrt(F.col("dot_ll")) * F.sqrt(F.col("dot_gg"))), 6
        ).alias("centroid_cos"),
    )


_EXTREMES_ORACLE = """
WITH e AS (
  SELECT vec_id, CAST(i AS BIGINT) AS dim,
         CAST(embedding[CAST(i AS INT)] AS DOUBLE) AS val
  FROM embeddings CROSS JOIN range(1, 65) t(i)
), r AS (
  SELECT dim, vec_id, val,
         ROW_NUMBER() OVER (PARTITION BY dim ORDER BY val DESC, vec_id) AS rk
  FROM e
)
SELECT CAST(dim AS BIGINT) AS dim, CAST(vec_id AS BIGINT) AS argmax_vec_id,
       val AS max_val
FROM r WHERE rk = 1
"""


@_register(
    "embedding_component_extremes",
    _EXTREMES_ORACLE,
    doc="Per-dimension maximum component and its argmax vector (ties "
    "broken on the smaller vec_id): the saturation probe that finds "
    "dimensions dominated by a single vector. Rank window partitions "
    "by dim (64 partitions of corpus-size rows — at scale, a "
    "max_by-style pre-aggregate per partition feeds the same answer); "
    "float32 values widen to float64 exactly, so cross-engine "
    "comparison is bitwise.",
)
def embedding_component_extremes(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select(
        "vec_id", F.posexplode(F.col("embedding")).alias("dim0", "val0")
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("long").alias("dim"),
        F.col("val0").cast("double").alias("val"),
    )
    w = Window.partitionBy("dim").orderBy(F.col("val").desc(), "vec_id")
    return (
        e.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("dim", F.col("vec_id").alias("argmax_vec_id"), F.col("val").alias("max_val"))
    )


@_register(
    "ann_pq_rerank",
    None,
    doc="PQ retrieve-then-rerank face (rows-only: codebook training is "
    "not SQL-expressible, but the pipeline is fully deterministic — "
    "integer Lloyd's codebooks, integer ADC, exact float64 re-rank "
    "with (score, id) tie-breaks): top-10 cosine neighbors of the "
    "vec_id=0 query via a 128-bit-per-vector code scan + C=50 exact "
    "re-rank. Recall vs exact audited in ANN_RECALL.json (0.97@128 "
    "bits at sf0.1); the C>=corpus == exact property is pinned in "
    "tests/test_ann_quality.py.",
)
def ann_pq_rerank(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.similarity import pq_topk_rerank, pq_train

    emb = fan_out(load_table(spark, sf, "embeddings"))
    books = pq_train(emb, m=32, k=16)
    q = emb.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qvec"))
    corpus = emb.where(F.col("vec_id") != 0)
    return pq_topk_rerank(corpus, q, books, k=10, n_candidates=50)


# ---------------------------------------------------------------------------
# folded from the round7 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# embedding geometry II
# ---------------------------------------------------------------------------

_SIGN_ORACLE = """
SELECT CAST(i AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN embedding[CAST(i AS INT)] > 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_positive,
       CAST(SUM(CASE WHEN embedding[CAST(i AS INT)] > 0 THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS positive_ppm
FROM embeddings CROSS JOIN range(1, 65) t(i)
GROUP BY i
"""


@_register(
    "embedding_sign_balance",
    _SIGN_ORACLE,
    doc="Per-dimension sign balance in exact integer ppm: a dimension "
    "far from 50% positive is biased or dead — the cheap geometry "
    "screen before trusting hyperplane-style partitions of the space. "
    "Posexplode → bounded (64-key) aggregate; float32 sign tests are "
    "exact.",
)
def embedding_sign_balance(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select(F.posexplode("embedding").alias("dim0", "val")).select(
        (F.col("dim0") + 1).cast("long").alias("dim"), "val"
    )
    return e.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("val") > 0, 1).otherwise(0)).alias("n_positive"),
        F.expr(
            "sum(case when val > 0 then 1 else 0 end) * 1000000 div count(1)"
        ).alias("positive_ppm"),
    )


_LABELDIST_ORACLE = """
WITH e AS (
  SELECT label, CAST(i AS BIGINT) AS dim,
         CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
              AS BIGINT) AS qv
  FROM embeddings CROSS JOIN range(1, 65) t(i)
), lbl AS (
  SELECT label, dim, CAST(SUM(qv) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS n
  FROM e GROUP BY label, dim
), pairs AS (
  SELECT a.label AS label_a, b.label AS label_b, a.n AS na, b.n AS nb,
         SUM((CAST(a.s AS DECIMAL(38,0)) * b.n - CAST(b.s AS DECIMAL(38,0)) * a.n)
             * (CAST(a.s AS DECIMAL(38,0)) * b.n - CAST(b.s AS DECIMAL(38,0)) * a.n))
           AS d2
  FROM lbl a JOIN lbl b ON a.dim = b.dim AND a.label < b.label
  GROUP BY a.label, b.label, a.n, b.n
)
SELECT label_a, label_b,
       CAST(d2 AS DOUBLE)
         / (CAST(na * nb AS DOUBLE) * CAST(na * nb AS DOUBLE))
         AS centroid_dist2
FROM pairs
"""


@_register(
    "label_pair_centroid_dist",
    _LABELDIST_ORACLE,
    doc="Squared L2 distance between every pair of label centroids (in "
    "quantized units): the class-separability matrix behind "
    "SemDeDup-style cluster audits. Fully exact until ONE final "
    "division: the per-dim mean difference is cleared of its "
    "denominators — diff = s_a·n_b − s_b·n_a is an exact DECIMAL — "
    "its squares sum exactly, and dist² divides once by (n_a·n_b)² "
    "(itself exact in double). No rounding of doubles anywhere (the "
    "ROUND-on-double half-way gotcha this spec originally hit); the "
    "pair join is keyed on dim with label-bounded fan-out.",
)
def label_pair_centroid_dist(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import quantize_vec

    emb = fan_out(load_table(spark, sf, "embeddings"))
    e = emb.select(
        "label", F.posexplode(quantize_vec(F.col("embedding"))).alias("dim0", "qv")
    ).select("label", (F.col("dim0") + 1).cast("long").alias("dim"), "qv")
    lbl = e.groupBy("label", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    a = lbl.select(
        F.col("label").alias("label_a"), "dim",
        F.col("s").alias("sa"), F.col("n").alias("na"),
    )
    b = lbl.select(
        F.col("label").alias("label_b"), "dim",
        F.col("s").alias("sb"), F.col("n").alias("nb"),
    )
    diff = (
        F.col("sa").cast("decimal(38,0)") * F.col("nb")
        - F.col("sb").cast("decimal(38,0)") * F.col("na")
    )
    pairs = (
        a.join(b, ["dim"])
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b", "na", "nb")
        .agg(F.sum(diff * diff).alias("d2"))
    )
    denom = (F.col("na") * F.col("nb")).cast("double")
    return pairs.select(
        "label_a", "label_b",
        (F.col("d2").cast("double") / (denom * denom)).alias("centroid_dist2"),
    )


# ---------------------------------------------------------------------------
# folded from the round8 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# IVF coarse-quantizer hash face + composed ANN rows-only face
# ---------------------------------------------------------------------------


def _ivf_assign_oracle(n_lists: int) -> str:
    """The k-means CTE from plans/semantic.py with the seed LIMIT
    re-parameterized to n_lists — the SAME two unrolled Lloyd
    iterations, so the oracle verifies exactly the coarse quantizer
    ivf_pq_index trains (operators/semantic.kmeans_fit)."""
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    assert _KMEANS_CTE.count("LIMIT 8") == 1
    return _KMEANS_CTE.replace("LIMIT 8", f"LIMIT {n_lists}") + """
SELECT vec_id, CAST(cid AS INTEGER) AS list_id, dist AS dist_q FROM a2
"""


@_register(
    "ivf_assignments",
    _ivf_assign_oracle(16),
    doc="IVF coarse-quantizer list assignment, hash-checked (VERDICT r7 "
    "#2 — the pq_codes pattern applied to the IVF tier, turning the "
    "last rows-only ANN family into a verified one): the deterministic "
    "quantized Lloyd's (k=16 cells, 2 iterations — lowest-id seeds, "
    "integer distances, ties to the lowest cell) that ivf_pq_index "
    "uses as its coarse stage, emitted as (vec_id, list_id, dist_q) "
    "and reproduced bit-for-bit by the machine-parameterized DuckDB "
    "unroll. Assignment is map-side (centroid literals); the driver "
    "sees k·d scalars per iteration.",
)
def ivf_assignments(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import assign_clusters, kmeans_fit

    emb = load_table(spark, sf, "embeddings")
    q, cents = kmeans_fit(emb, vec_col="embedding", id_col="vec_id", k=16, iters=2)
    out = assign_clusters(q, cents)
    return out.select(
        "vec_id", F.col("cluster").cast("int").alias("list_id"), F.col("dist_q")
    )


@_register(
    "ann_ivf_pq",
    None,  # approximate retrieval: rows-only face; quality gated by
    # tests/test_ann_quality.py (exactness/determinism properties) and
    # ANN_RECALL.json (recall 0.91 @ 8.2% exact-scan-equivalent bytes)
    doc="Composed IVF×PQ retrieve-then-rerank top-k (VERDICT r6 #7 / r7 "
    "#1): probe the nearest coarse cells, ADC-rank codes only within "
    "them, exact-rerank the survivors. Registered as the flagship ANN "
    "search face; deterministic end-to-end (integer probe ranking, "
    "integer ADC, (score,id) tie-breaks) but not SQL-expressible as a "
    "fixed oracle economically — its exactness property (full probe + "
    "full candidates == cosine_topk, ids AND order) and recall "
    "frontier are pinned in test_ann_quality.py / ANN_RECALL.json.",
)
def ann_ivf_pq(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.similarity import ivf_pq_index, ivf_pq_topk

    emb = load_table(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    q = emb.where(F.col("vec_id") == 7).select(F.col("embedding").alias("qvec"))
    corpus = emb.where(F.col("vec_id") != 7)
    idx, cents, books = ivf_pq_index(corpus, n_lists=8, m=8, k_codes=16)
    return ivf_pq_topk(
        corpus, q, idx, cents, books, k=10, n_probe=4, n_candidates=50
    )


# ---------------------------------------------------------------------------
# folded from the round8b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ANN index-balance faces
# ---------------------------------------------------------------------------


def _ivf_balance_oracle() -> str:
    from cve_manager_spark.plans.semantic import _ivf_assign_oracle

    return f"""
SELECT list_id,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) * 1000000 // SUM(COUNT(*)) OVER () AS BIGINT)
         AS share_ppm
FROM ({_ivf_assign_oracle(16)}) t
GROUP BY list_id
"""


@_register(
    "ivf_list_balance",
    None,  # assembled lazily below
    doc="IVF cell-occupancy balance: vectors per coarse cell with ppm "
    "share — the index-health metric that predicts probe cost variance "
    "(one hot cell = one straggler partition at query time). Wraps "
    "the verified ivf_assignments face in a list-keyed count.",
)
def ivf_list_balance(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.semantic import ivf_assignments

    asg = ivf_assignments(spark, sf)
    c = asg.groupBy("list_id").agg(F.count(F.lit(1)).alias("n_vecs"))
    wt = Window.partitionBy()
    return c.select(
        "list_id",
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.expr("n_vecs * 1000000").cast("bigint").alias("_num"),
        F.sum("n_vecs").over(wt).alias("_tot"),
    ).select(
        "list_id",
        "n_vecs",
        F.expr("_num div _tot").alias("share_ppm"),
    )


def _pq_balance_oracle() -> str:
    from cve_manager_spark.plans.semantic import _pq_codes_oracle

    return f"""
SELECT CAST(u.j AS INTEGER) AS subspace, CAST(u.c AS INTEGER) AS code,
       CAST(COUNT(*) AS BIGINT) AS n_vecs
FROM ({_pq_codes_oracle()}) base,
     UNNEST([struct_pack(j := 0, c := base.code_0),
             struct_pack(j := 1, c := base.code_1),
             struct_pack(j := 2, c := base.code_2),
             struct_pack(j := 3, c := base.code_3)]) t(u)
GROUP BY 1, 2
"""


@_register(
    "pq_code_balance",
    None,  # assembled lazily below
    doc="Product-quantizer codebook utilization: vectors per (subspace, "
    "code) — dead or hot codes mean the codebook wastes bits and ADC "
    "distances lose resolution. Wraps the verified pq_codes face in "
    "an unpivot + count; 32-row output (4 subspaces × 8 codes).",
)
def pq_code_balance(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.plans.semantic import pq_codes

    base = pq_codes(spark, sf)
    rows = base.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"code_{j}").alias("c")
                    )
                    for j in range(4)
                ]
            )
        ).alias("u")
    ).select(
        F.col("u.j").cast("int").alias("subspace"),
        F.col("u.c").cast("int").alias("code"),
    )
    return rows.groupBy("subspace", "code").agg(
        F.count(F.lit(1)).alias("n_vecs")
    )


def _finalize_lazy_oracles() -> None:
    """Attach the oracles that need lazy CTE builders — once at module
    import, keeping SPECS declarative (the ivf/pq half of the finalizer
    that travelled here with its specs; the phash half lives in
    plans/pipeline.py)."""
    lazy = {
        "ivf_list_balance": _ivf_balance_oracle(),
        "pq_code_balance": _pq_balance_oracle(),
    }
    for i, spec in enumerate(SPECS):
        if spec.name in lazy:
            SPECS[i] = dataclasses.replace(spec, oracle=lazy[spec.name])


_finalize_lazy_oracles()


# ---------------------------------------------------------------------------
# folded from the round8c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Embedding sign-octant occupancy
# ---------------------------------------------------------------------------

_OCTANT_ORACLE = """
WITH o AS (
  SELECT label,
         CAST(CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
            + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
            + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END AS INTEGER)
           AS octant
  FROM embeddings
), a AS (
  SELECT label, octant, CAST(COUNT(*) AS BIGINT) AS n_vecs
  FROM o GROUP BY label, octant
)
SELECT label, octant, n_vecs,
       CAST(n_vecs * 1000000 // SUM(n_vecs) OVER (PARTITION BY label)
            AS BIGINT) AS share_ppm
FROM a
"""


@_register(
    "embedding_octant_occupancy",
    _OCTANT_ORACLE,
    doc="Sign-octant occupancy of the first three embedding dimensions "
    "per label — the joint-sign coverage audit (complements the "
    "per-dimension embedding_sign_balance): a label collapsed into "
    "few octants signals anisotropy the per-dim marginals hide. Sign "
    "tests are exact float comparisons; the share window runs on the "
    "<= labels x 8 aggregate.",
)
def embedding_octant_occupancy(spark: SparkSession, sf: str) -> DataFrame:
    emb = fan_out(load_table(spark, sf, "embeddings"))
    octant = (
        F.when(F.element_at("embedding", 1) >= 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 2) >= 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) >= 0, 1).otherwise(0)
    )
    a = emb.select("label", octant.cast("int").alias("octant")).groupBy(
        "label", "octant"
    ).agg(F.count(F.lit(1)).alias("n_vecs"))
    return a.select(
        "label",
        "octant",
        "n_vecs",
        F.expr(
            "n_vecs * 1000000 div sum(n_vecs) over (partition by label)"
        ).alias("share_ppm"),
    )


# ---------------------------------------------------------------------------
# folded from the round9 tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ANN incremental maintenance face
# ---------------------------------------------------------------------------


def _ivf_delta_oracle(n_lists: int) -> str:
    """Machine-parameterized delta-assignment oracle: train the coarse
    quantizer on the BASE corpus only (vec_id % 5 <> 4 — the
    _KMEANS_CTE re-scoped), then assign the held-out DELTA rows against
    the final centroids with the same integer distance and (dist, cid)
    tie-break — exactly what ivf_pq_upsert's encode stage does against
    a frozen sidecar meta."""
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    cte = _KMEANS_CTE.replace("LIMIT 8", f"LIMIT {n_lists}")
    assert cte.count("LIMIT 8") == 0
    assert cte.count("FROM embeddings") == 1
    cte = cte.replace("FROM embeddings", "FROM embeddings WHERE vec_id % 5 <> 4")
    return cte + """
, ed AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings WHERE vec_id % 5 = 4
), dd AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            - 2 * list_dot_product(CAST(q AS DOUBLE[]), CAST(c AS DOUBLE[]))
            + list_dot_product(CAST(c AS DOUBLE[]), CAST(c AS DOUBLE[])) AS BIGINT)
           AS dist
  FROM ed CROSS JOIN c2
), ad AS (
  SELECT vec_id, q, cid FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
    FROM dd) WHERE rn = 1
)
SELECT vec_id, CAST(cid AS INTEGER) AS list_id,
       CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
            AS BIGINT) AS vnorm2
FROM ad
"""


@_register(
    "ivf_delta_assignments",
    _ivf_delta_oracle(16),
    doc="Incremental-index maintenance face: the frozen-meta delta "
    "assignment that operators.similarity.ivf_pq_upsert applies when "
    "growing a persisted IVF×PQ index WITHOUT retraining — train the "
    "coarse quantizer on the base corpus (vec_id %% 5 <> 4, k=16, "
    "2 Lloyd iterations), then run ivf_pq_encode_delta over the "
    "held-out delta against those frozen centroids, emitted as "
    "(vec_id, list_id, vnorm2) and reproduced bit-for-bit by the "
    "re-scoped DuckDB kmeans unroll. The delta pass is map-side "
    "(centroid literals; no join, no shuffle, no retrain) — the 100 TB "
    "nightly-refresh shape where index growth costs one narrow encode "
    "pass plus a sliver-merge.",
)
def ivf_delta_assignments(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import kmeans_fit
    from cve_manager_spark.operators.similarity import ivf_pq_encode_delta

    from cve_manager_spark.plans.artifacts import frozen

    emb = load_table(spark, sf, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 4)
    delta = emb.where(F.col("vec_id") % 5 == 4)
    # frozen coarse quantizer (the spec's own contract: "WITHOUT
    # retraining") — trained once per (sf, recipe), plans/artifacts.py
    cents = frozen(
        ("ivf_coarse", sf, "embeddings", 16, 2),
        lambda: kmeans_fit(
            base, vec_col="embedding", id_col="vec_id", k=16, iters=2
        )[1],
    )
    # books=None: this face verifies the assignment math only, so skip PQ
    # codebook training outright instead of training books whose pq_code
    # output Catalyst would prune anyway (the training collects are eager
    # driver work Catalyst can't elide)
    out = ivf_pq_encode_delta(delta, cents, books=None)
    return out.select("vec_id", "list_id", "vnorm2")


# ---------------------------------------------------------------------------
# folded from the round9b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Semantic decontamination (embedding-grain eval leakage)
# ---------------------------------------------------------------------------


def _semdecon_oracle() -> str:
    from cve_manager_spark.plans.corpus import _BUCKET_DUCK, _split_case
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    return _KMEANS_CTE + f"""
, nq AS (
  SELECT vec_id, q, cid,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS qq
  FROM a2
), sp AS (
  SELECT doc_id, source, {_split_case(_BUCKET_DUCK)} AS split FROM documents
), te AS (
  SELECT nq.vec_id, nq.q, nq.cid, nq.qq, sp.source
  FROM nq JOIN sp ON nq.vec_id = sp.doc_id WHERE sp.split = 'test'
), tr AS (
  SELECT nq.vec_id, nq.q, nq.cid, nq.qq
  FROM nq JOIN sp ON nq.vec_id = sp.doc_id WHERE sp.split = 'train'
), pr AS (
  SELECT te.vec_id,
         CAST(list_dot_product(CAST(te.q AS DOUBLE[]), CAST(tr.q AS DOUBLE[]))
              AS BIGINT) AS dot_q,
         te.qq AS na, tr.qq AS nb
  FROM te JOIN tr ON te.cid = tr.cid
), ag AS (
  SELECT vec_id,
         SUM(CASE WHEN dot_q > 0 AND CAST(dot_q AS HUGEINT) * dot_q * 400
                       >= CAST(na AS HUGEINT) * nb * 49 THEN 1 ELSE 0 END) AS nn,
         SUM(CASE WHEN dot_q > 0 AND CAST(dot_q AS HUGEINT) * dot_q * 25
                       >= CAST(na AS HUGEINT) * nb * 9 THEN 1 ELSE 0 END) AS ncl
  FROM pr GROUP BY vec_id
)
SELECT te.vec_id AS doc_id, te.source,
       CAST(COALESCE(ag.nn, 0) AS BIGINT) AS n_sem_neighbors,
       CAST(COALESCE(ag.ncl, 0) AS BIGINT) AS n_close
FROM te LEFT JOIN ag ON te.vec_id = ag.vec_id
"""


@_register(
    "semantic_decontamination",
    _semdecon_oracle(),
    doc="Embedding-grain eval decontamination: for every TEST-split "
    "document (md5 80/10/10 split, split_assign_3way recipe), count the "
    "TRAIN-split documents that are semantic neighbors — same "
    "deterministic k-means cell (k=8, 2 Lloyd iterations, quantized "
    "integer metric) with cosine >= 0.35, plus the tighter >= 0.6 "
    "count — the SemDeDup-style leakage audit run BEFORE trusting an "
    "eval score. Candidates are within-cell pairs only (never the "
    "corpus square); the threshold test is the exact integer "
    "cross-multiplication from semantic_dedup (dot^2 * 400 >= na*nb*49 "
    "in DECIMAL(38)); zero-neighbor test docs are kept via left join "
    "so the report is the full test manifest.",
)
def semantic_decontamination(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import kmeans_quantized
    from cve_manager_spark.plans.corpus import _BUCKET_SPARK, _split_case

    emb = load_table(spark, sf, "embeddings")
    a = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    sp_d = load_table(spark, sf, "documents").select(
        F.col("doc_id"),
        F.col("source"),
        F.expr(_split_case(_BUCKET_SPARK)).alias("split"),
    )
    j = a.join(sp_d, a["vec_id"] == sp_d["doc_id"]).select(
        "vec_id", "q", "qq", "cluster", "source", "split"
    )
    te = j.where(F.col("split") == "test").select(
        "vec_id",
        F.col("q").alias("qa"),
        F.col("qq").alias("na"),
        "cluster",
        "source",
    )
    tr = j.where(F.col("split") == "train").select(
        F.col("cluster").alias("cluster_b"),
        F.col("q").alias("qb"),
        F.col("qq").alias("nb"),
    )
    p = te.join(tr, F.col("cluster") == F.col("cluster_b"))
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    p = p.withColumn("dot_q", dot)
    d19 = F.col("dot_q").cast("decimal(19,0)")
    na19 = F.col("na").cast("decimal(19,0)")
    nb19 = F.col("nb").cast("decimal(19,0)")
    neigh = (F.col("dot_q") > 0) & (d19 * d19 * F.lit(400) >= na19 * nb19 * F.lit(49))
    close = (F.col("dot_q") > 0) & (d19 * d19 * F.lit(25) >= na19 * nb19 * F.lit(9))
    ag = p.groupBy("vec_id").agg(
        F.sum(F.when(neigh, 1).otherwise(0)).alias("nn"),
        F.sum(F.when(close, 1).otherwise(0)).alias("ncl"),
    )
    return (
        te.select("vec_id", "source")
        .join(ag, "vec_id", "left")
        .select(
            F.col("vec_id").alias("doc_id"),
            "source",
            F.coalesce("nn", F.lit(0)).cast("bigint").alias("n_sem_neighbors"),
            F.coalesce("ncl", F.lit(0)).cast("bigint").alias("n_close"),
        )
    )


# ---------------------------------------------------------------------------
# folded from the round9c tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Embedding-quality eval: leave-one-out 1-NN label accuracy
# ---------------------------------------------------------------------------


def _knn_loo_oracle() -> str:
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    return _KMEANS_CTE + """
, lab AS (
  SELECT a2.vec_id, a2.q, a2.cid, e2.label
  FROM a2 JOIN embeddings e2 ON a2.vec_id = e2.vec_id
), qq AS (
  SELECT vec_id, q, cid, label,
         CAST(list_dot_product(CAST(q AS DOUBLE[]), CAST(q AS DOUBLE[]))
              AS BIGINT) AS qq
  FROM lab
), pairs AS (
  SELECT a.vec_id, a.label AS la, b.label AS lb,
         a.qq - 2 * CAST(list_dot_product(CAST(a.q AS DOUBLE[]),
                                          CAST(b.q AS DOUBLE[])) AS BIGINT)
              + b.qq AS dist,
         b.vec_id AS nb_id
  FROM qq a JOIN qq b ON a.cid = b.cid AND a.vec_id <> b.vec_id
), nn AS (
  SELECT vec_id, la, lb FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY dist, nb_id) AS rn
    FROM pairs) WHERE rn = 1
)
SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN la = lb THEN 1 ELSE 0 END) * 1000000 // COUNT(*)
            AS BIGINT) AS acc_ppm
FROM nn GROUP BY la
"""


@_register(
    "knn_loo_accuracy",
    _knn_loo_oracle(),
    doc="Leave-one-out 1-NN label accuracy inside the deterministic "
    "k-means cells — the standard embedding-quality eval (do nearest "
    "neighbors share labels?) made exactly reproducible: neighbors "
    "compete on the INTEGER quantized squared-euclidean (qq_a - 2 dot "
    "+ qq_b, the k-means metric) with (dist, vec_id) tie-break, so "
    "both engines pick the identical neighbor; accuracy in ppm per "
    "label. Candidates are within-cell only (the IVF/SemDeDup "
    "candidate shape — at 100 TB this IS the eval you can afford; "
    "cross-cell misses are the known recall trade measured by the ANN "
    "audits).",
)
def knn_loo_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import kmeans_quantized

    emb = load_table(spark, sf, "embeddings")
    a = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    lab = a.join(
        emb.select(F.col("vec_id").alias("vid2"), "label"),
        F.col("vec_id") == F.col("vid2"),
    ).select("vec_id", "q", "qq", "cluster", "label")
    left = lab.select(
        "vec_id",
        F.col("q").alias("qa"),
        F.col("qq").alias("na"),
        "cluster",
        F.col("label").alias("la"),
    )
    right = lab.select(
        F.col("vec_id").alias("nb_id"),
        F.col("q").alias("qb"),
        F.col("qq").alias("nb"),
        F.col("cluster").alias("cluster_b"),
        F.col("label").alias("lb"),
    )
    p = left.join(
        right,
        (F.col("cluster") == F.col("cluster_b"))
        & (F.col("vec_id") != F.col("nb_id")),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    p = p.select(
        "vec_id",
        "la",
        "lb",
        "nb_id",
        (F.col("na") - 2 * dot + F.col("nb")).alias("dist"),
    )
    wn = Window.partitionBy("vec_id").orderBy("dist", "nb_id")
    nn = p.withColumn("rn", F.row_number().over(wn)).where(F.col("rn") == 1)
    return nn.groupBy(F.col("la").alias("label")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("la") == F.col("lb"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
        F.expr(
            "sum(case when la = lb then 1 else 0 end) * 1000000 div count(1)"
        ).alias("acc_ppm"),
    )




# ---------------------------------------------------------------------------
# folded from the round10b tranche (round-11 consolidation)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# hard-negative mining + PQ health diagnostics
# ---------------------------------------------------------------------------


def _hardneg_oracle() -> str:
    from cve_manager_spark.plans.semantic import _KMEANS_CTE

    return _KMEANS_CTE + """
, lab AS (
  SELECT a2.vec_id, a2.cid, a2.q, e2.label
  FROM a2 JOIN embeddings e2 ON a2.vec_id = e2.vec_id
), pr AS (
  SELECT x.vec_id, y.vec_id AS neg_id,
         CAST(list_dot_product(CAST(x.q AS DOUBLE[]), CAST(y.q AS DOUBLE[]))
              AS BIGINT) AS dot_q
  FROM lab x JOIN lab y
    ON x.cid = y.cid AND x.vec_id <> y.vec_id AND x.label <> y.label
), rk AS (
  SELECT vec_id, neg_id, dot_q,
         ROW_NUMBER() OVER (PARTITION BY vec_id
                            ORDER BY dot_q DESC, neg_id) AS rn
  FROM pr
)
SELECT vec_id, neg_id, dot_q FROM rk WHERE rn = 1
"""


@_register(
    "hard_negative_mining",
    _hardneg_oracle(),
    doc="Hard-negative mining for contrastive training: per embedding, "
    "the HIGHEST-dot-product vector with a DIFFERENT label inside its "
    "k-means cell (k=8, the shared deterministic Lloyd's) — the "
    "near-but-wrong example a contrastive loss learns most from. "
    "Candidates are cell-bounded (the semantic_dedup discipline: "
    "never all-pairs), the argmax is an exact integer dot with "
    "(dot desc, id) tie-break, so the mined pairs hash-verify. Vecs "
    "whose cell holds no other label are absent (no negative to "
    "mine).",
)
def hard_negative_mining(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import kmeans_quantized

    emb = load_table(spark, sf, "embeddings")
    a = kmeans_quantized(emb, vec_col="embedding", id_col="vec_id", k=8, iters=2)
    lab = a.join(emb.select("vec_id", "label"), "vec_id")
    left = lab.select(
        "cluster",
        F.col("vec_id").alias("vid"),
        F.col("label").alias("la"),
        F.col("q").alias("qa"),
    )
    right = lab.select(
        F.col("cluster").alias("cluster_b"),
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("lb"),
        F.col("q").alias("qb"),
    )
    p = left.join(
        right,
        (F.col("cluster") == F.col("cluster_b"))
        & (F.col("vid") != F.col("neg_id"))
        & (F.col("la") != F.col("lb")),
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    p = p.select("vid", "neg_id", dot.alias("dot_q"))
    best = F.max(F.struct(F.col("dot_q"), (-F.col("neg_id")).alias("neg")))
    return (
        p.groupBy("vid")
        .agg(best.alias("b"))
        .select(
            F.col("vid").alias("vec_id"),
            (-F.col("b.neg")).cast("bigint").alias("neg_id"),
            F.col("b.dot_q").alias("dot_q"),
        )
    )


def _pq_recon_oracle(m: int = 4, w: int = 16, k: int = 8) -> str:
    from cve_manager_spark.plans.semantic import _pq_subspace_cte

    parts = [
        """eq AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS q
  FROM embeddings
)"""
    ]
    parts += [_pq_subspace_cte(j, w, k) for j in range(m)]
    dist = (
        "CAST(list_dot_product(CAST(e.qs AS DOUBLE[]), CAST(e.qs AS DOUBLE[]))"
        " - 2 * list_dot_product(CAST(e.qs AS DOUBLE[]), CAST(c.c AS DOUBLE[]))"
        " + list_dot_product(CAST(c.c AS DOUBLE[]), CAST(c.c AS DOUBLE[])) AS BIGINT)"
    )
    errs = [
        f"""err{j} AS (
  SELECT {dist} AS d
  FROM asg_s{j} a JOIN e_s{j} e ON a.vec_id = e.vec_id
       JOIN c2_s{j} c ON a.cid = c.cid
)"""
        for j in range(m)
    ]
    unions = "\nUNION ALL\n".join(
        f"SELECT {j} AS subspace, CAST(COUNT(*) AS BIGINT) AS n,"
        f" CAST(CAST(SUM(d) AS DECIMAL(38,0)) AS DOUBLE) AS sum_sq_err"
        f" FROM err{j}"
        for j in range(m)
    )
    return "WITH " + ",\n".join(parts + errs) + "\n" + unions


@_register(
    "pq_reconstruction_error",
    _pq_recon_oracle(),
    doc="PQ reconstruction error per subspace: the exact integer squared "
    "distance between each sub-vector and its assigned codeword, "
    "summed (DECIMAL fold, double out). THE quantizer quality number "
    "— ADC distance error is bounded by reconstruction error, so this "
    "is what an index rebuild is judged on (paired with "
    "pq_code_balance's usage skew). Spark computes it in-row against "
    "the broadcast codebook literals (sum of (a-b)^2 == the "
    "|q|^2-2qc+|c|^2 the oracle recomputes); one narrow pass, one "
    "m-row aggregate.",
)
def pq_reconstruction_error(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import quantize_vec
    from cve_manager_spark.operators.similarity import pq_encode, pq_train

    m, w = 4, 16
    emb = load_table(spark, sf, "embeddings")
    books = pq_train(emb, m=m, k=8, iters=2)
    enc = pq_encode(emb, books).withColumn(
        "__q", quantize_vec(F.col("embedding"))
    )
    cols = []
    for j in range(m):
        sub = F.slice("__q", j * w + 1, w)
        book_lit = long_matrix_lit(books[j])
        cw = F.element_at(book_lit, F.element_at("pq_code", j + 1) + 1)
        err = F.aggregate(
            F.zip_with(sub, cw, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, e: acc + e,
        )
        cols.append(err.alias(f"e{j}"))
    per = enc.select(*cols)
    rows = per.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("int").alias("subspace"),
                        F.col(f"e{j}").alias("d"),
                    )
                    for j in range(m)
                ]
            )
        ).alias("u")
    ).select("u.subspace", "u.d")
    return rows.groupBy("subspace").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("d").cast("decimal(38,0)")).cast("double").alias(
            "sum_sq_err"
        ),
    )


# ---------------------------------------------------------------------------
# top-r PCA by deflation (round 11): the full "all-but-the-top" ladder
# ---------------------------------------------------------------------------


def _pca_power_cte(xrel: str, sfx: str) -> str:
    """One integer power iteration pair (2 Lloyd-style passes) over the
    centered relation ``xrel`` (vec_id, pos, xv) — the _PCA_CTE recipe
    parameterized so the deflation ladder can reuse it per direction.
    Emits ``v2{sfx}`` (pos, v) scaled to max |v| = 1e6."""
    return f"""
, y1{sfx} AS (
  SELECT vec_id, xv AS yq FROM {xrel} WHERE pos = 1
), w1{sfx} AS (
  SELECT x.pos, CAST(SUM(x.xv * y.yq) AS BIGINT) AS w
  FROM {xrel} x JOIN y1{sfx} y USING (vec_id) GROUP BY x.pos
), m1{sfx} AS (
  SELECT MAX(abs(w)) AS mw FROM w1{sfx}
), v1{sfx} AS (
  SELECT pos,
         CAST(CAST(w AS HUGEINT) * 1000000 // (SELECT mw FROM m1{sfx})
              AS BIGINT) AS v
  FROM w1{sfx}
), y2{sfx} AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS yq
  FROM {xrel} x JOIN v1{sfx} v USING (pos) GROUP BY x.vec_id
), w2{sfx} AS (
  SELECT x.pos, CAST(SUM(x.xv * y.yq) AS BIGINT) AS w
  FROM {xrel} x JOIN y2{sfx} y USING (vec_id) GROUP BY x.pos
), m2{sfx} AS (
  SELECT MAX(abs(w)) AS mw FROM w2{sfx}
), v2{sfx} AS (
  SELECT pos,
         CAST(CAST(w AS HUGEINT) * 1000000 // (SELECT mw FROM m2{sfx})
              AS BIGINT) AS v
  FROM w2{sfx}
)"""


def _pca_deflate_cte(xrel: str, vrel: str, sfx: str) -> str:
    """Exact in-row deflation of ``xrel`` by direction ``vrel``. The
    direction is first rescaled from max-|loading|=1e6 to L2-norm≈1e6
    (``u``) — the projection-removal p·u/1e6 assumes <u,u>≈1e12, and
    deflating with the max-scaled v leaves a PC1 component the next
    power iteration re-amplifies (operators.semantic.unit_scale).
    floor(sqrt(BIGINT)) is exact at this magnitude (≤ 64e12), and
    HUGEINT ``//`` truncates toward zero like the Spark driver's
    sign-split division. Then p = floor(<x,u>/1e6) and
    r_j = (x_j·1e6 − p·u_j) // 1e6 — the pca_residual_norms recipe.
    Emits ``x{sfx}``."""
    return f"""
, nv{sfx} AS (
  SELECT CAST(FLOOR(SQRT(CAST(SUM(v * v) AS DOUBLE))) AS BIGINT) AS nrm
  FROM {vrel}
), u{sfx} AS (
  SELECT pos,
         CAST(CAST(v AS HUGEINT) * 1000000 // (SELECT nrm FROM nv{sfx})
              AS BIGINT) AS v
  FROM {vrel}
), p{sfx} AS (
  SELECT x.vec_id,
         CAST(FLOOR(CAST(SUM(x.xv * v.v) AS DOUBLE) / 1000000) AS BIGINT)
           AS p
  FROM {xrel} x JOIN u{sfx} v USING (pos) GROUP BY x.vec_id
), x{sfx} AS (
  SELECT x.vec_id, x.pos, (x.xv * 1000000 - p.p * v.v) // 1000000 AS xv
  FROM {xrel} x JOIN u{sfx} v USING (pos) JOIN p{sfx} p USING (vec_id)
)"""


def _pca_topr_oracle() -> str:
    import re

    sql = (
        _PCA_CTE
        + _pca_deflate_cte("x", "v2", "b")
        + _pca_power_cte("xb", "b")
        + _pca_deflate_cte("xb", "v2b", "c")
        + _pca_power_cte("xc", "c")
        + _pca_deflate_cte("xc", "v2c", "d")
        + """
, s0 AS (SELECT vec_id, CAST(SUM(xv * xv) AS BIGINT) AS s FROM x GROUP BY vec_id)
, s1 AS (SELECT vec_id, CAST(SUM(xv * xv) AS BIGINT) AS s FROM xb GROUP BY vec_id)
, s2 AS (SELECT vec_id, CAST(SUM(xv * xv) AS BIGINT) AS s FROM xc GROUP BY vec_id)
, s3 AS (SELECT vec_id, CAST(SUM(xv * xv) AS BIGINT) AS s FROM xd GROUP BY vec_id)
SELECT e2.label, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(CAST(SUM(s0.s) AS DECIMAL(38,0)) AS DOUBLE) AS sum_x2,
       CAST(CAST(SUM(s1.s) AS DECIMAL(38,0)) AS DOUBLE) AS sum_r1,
       CAST(CAST(SUM(s2.s) AS DECIMAL(38,0)) AS DOUBLE) AS sum_r2,
       CAST(CAST(SUM(s3.s) AS DECIMAL(38,0)) AS DOUBLE) AS sum_r3
FROM s0 JOIN s1 USING (vec_id) JOIN s2 USING (vec_id) JOIN s3 USING (vec_id)
JOIN embeddings e2 ON s0.vec_id = e2.vec_id
GROUP BY e2.label
"""
    )
    # DuckDB inlines plain CTEs PER REFERENCE, and the deflation ladder
    # re-references each level several times — the expansion multiplies
    # parquet scans exponentially (measured: EMFILE on a 20k-fd limit at
    # depth 3). Materializing every CTE makes each level one scan; the
    # values are identical, only the evaluation strategy changes.
    return re.sub(r"(\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


@_register(
    "pca_topr_residual_norms",
    _pca_topr_oracle(),
    doc="The FULL 'all-but-the-top' audit (VERDICT r10 #8 — the "
    "literature removes top-r, not top-1): per label, the exact "
    "squared norm of each centered embedding before (sum_x2) and "
    "after removing its projection on the top one / two / three "
    "principal directions (sum_r1/r2/r3), directions found by "
    "DEFLATION — power-iterate, subtract the projection in-row "
    "(truncating integer rescale, the pca_residual_norms recipe), "
    "iterate on the residual. Every stage is exact-integer, so the "
    "DuckDB unroll (three chained power+deflate CTE blocks) matches "
    "bit-for-bit. The variance ladder sum_x2→r1→r2→r3 is the "
    "diminishing-returns curve that decides HOW MANY common "
    "directions a corpus rewrite should remove. Cluster cost: r "
    "power iterations (one d-sum aggregate each, partials map-side "
    "combinable) + ONE final corpus pass stacking the r in-row "
    "deflations — no joins, no vector payload in any shuffle. The "
    "direction set is a frozen artifact (plans/artifacts.py) shared "
    "across invocations, the production train-once contract.",
)
def pca_topr_residual_norms(spark: SparkSession, sf: str) -> DataFrame:
    from cve_manager_spark.operators.semantic import (
        pca_deflate_expr,
        pca_power_topr,
        proj_expr,
        quantize_vec,
        unit_scale,
    )
    from cve_manager_spark.plans.artifacts import frozen

    emb = load_table(spark, sf, "embeddings")
    mu, vs = frozen(
        ("pca_topr", sf, "embeddings", 3, 2),
        lambda: pca_power_topr(
            emb, vec_col="embedding", id_col="vec_id", r=3, iters=2
        ),
    )
    from cve_manager_spark.functions.helpers import long_array_sql

    q = emb.select(
        "vec_id", "label", quantize_vec(F.col("embedding")).alias("q")
    )
    # centering + the per-array squared-norm folds as parsed expressions
    # (the Column-lambda forms were pure py4j driver chatter, guide §5)
    x = q.select(
        "vec_id",
        "label",
        F.expr(f"zip_with(q, {long_array_sql(mu)}, (a, b) -> a - b)").alias("c0"),
    )
    cur = "c0"
    for k, v in enumerate(vs):
        u = unit_scale(v)  # deflation needs the L2-1e6 scale
        x = x.withColumn(f"__p{k}", proj_expr(cur, u))
        x = x.withColumn(f"c{k + 1}", pca_deflate_expr(cur, f"__p{k}", u))
        cur = f"c{k + 1}"

    def sq(c: str):
        return F.expr(
            f"aggregate({c}, CAST(0 AS BIGINT), (acc, e) -> acc + e * e)"
        )

    per = x.select(
        "label",
        sq("c0").alias("s0"),
        sq("c1").alias("s1"),
        sq("c2").alias("s2"),
        sq("c3").alias("s3"),
    )
    return per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("s0").cast("decimal(38,0)")).cast("double").alias("sum_x2"),
        F.sum(F.col("s1").cast("decimal(38,0)")).cast("double").alias("sum_r1"),
        F.sum(F.col("s2").cast("decimal(38,0)")).cast("double").alias("sum_r2"),
        F.sum(F.col("s3").cast("decimal(38,0)")).cast("double").alias("sum_r3"),
    )
