"""Streaming anomaly monitoring: score a live event stream against
frozen reference statistics (the streaming twin of the batch
``anomaly_zscore`` query, plans/features.py).

Production shape: the per-type moments (n, Σv, Σv²) are computed once
over a reference window by the batch pass and FROZEN; the stream is then
scored row-by-row against them. That makes the operator a stream-static
broadcast join plus narrow codegen expressions — no streaming state, no
watermark, append mode — so it runs at any input rate; re-freezing the
stats is a periodic batch job, not a streaming concern. The z arithmetic
is the same exact-integer-moments + identical-IEEE-tree recipe as the
batch query, so batch and stream scores are bitwise identical
(asserted stream(availableNow) == batch in tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cve_manager_spark.streaming.sinks import read_state, snapshot_sink


def reference_stats(events: DataFrame) -> DataFrame:
    """Per-type exact integer moments over a reference (batch) window."""
    v = events.select(
        "event_type", F.floor(F.col("value") * 1000).cast("long").alias("v_milli")
    )
    return v.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v_milli").alias("s1"),
        F.sum(F.col("v_milli") * F.col("v_milli")).alias("s2"),
    )


def score_zscore(
    events: DataFrame, stats: DataFrame, threshold: float = 1.5
) -> DataFrame:
    """Flag events whose value is > threshold σ from their type's frozen
    mean. Works identically on a batch or streaming ``events`` relation
    (stream-static join: the stats side broadcasts)."""
    v = events.select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 1000).cast("long").alias("v_milli"),
    )
    j = v.join(F.broadcast(stats), "event_type")
    mean = F.col("s1").cast("double") / F.col("n")
    sd = F.sqrt(
        F.greatest(F.col("s2").cast("double") / F.col("n") - mean * mean, F.lit(0.0))
    )
    z = (F.col("v_milli").cast("double") - mean) / sd
    return (
        j.withColumn("sd", sd)
        .where((F.col("sd") > 0) & (F.abs(z) > threshold))
        .select(
            "event_id",
            "event_type",
            "v_milli",
            F.floor(z * 1000000.0).cast("long").alias("z_micro"),
        )
    )


# ---------------------------------------------------------------------------
# streaming embedding-drift monitor: the continuous twin of the batch
# ``embedding_drift_buckets`` spec (plans/semantic.py). Same production
# shape as the z-score monitor above — the expensive statistics (mu, the
# top-PC direction, the bucket bounds, the reference histogram) are
# computed ONCE by a batch pass and FROZEN; the stream then projects and
# buckets each embedding map-side against literals (no join, no shuffle,
# no watermark) and folds per-bucket counts into a tiny accumulated
# state. Per-window state is n_buckets integers regardless of corpus
# size, and every arithmetic step is the exact-integer recipe of the
# batch spec, so stream(availableNow) == batch bit-for-bit.
# ---------------------------------------------------------------------------


def drift_bucket_expr(n_buckets: int, pmin: int, pmax: int):
    """The batch spec's equal-width bucket id for a projection ``p``,
    with frozen bounds: (p - pmin) * n div (pmax - pmin + 1), clamped to
    [0, n-1] so a live value escaping the frozen range lands in the edge
    bucket instead of a phantom one (a monitor must keep counting when
    the distribution drifts PAST the reference — that count IS the
    signal)."""
    raw = F.expr(
        f"CAST((p - {pmin}) * {n_buckets} div ({pmax} - {pmin} + 1) AS INT)"
    )
    return F.greatest(F.lit(0), F.least(F.lit(n_buckets - 1), raw))


def drift_bucket_counts(
    df: DataFrame,
    mu: list[int],
    v: list[int],
    pmin: int,
    pmax: int,
    n_buckets: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(bucket, n) histogram of a relation under the frozen artifact —
    the batch half used both to build the reference histogram and as the
    stream's per-batch aggregate."""
    from cve_manager_spark.operators.semantic import drift_projection

    pr = drift_projection(df, mu, v, vec_col=vec_col, id_col=id_col)
    return (
        pr.select(drift_bucket_expr(n_buckets, pmin, pmax).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def foreach_batch_drift_histogram(
    stream_df: DataFrame,
    out_dir: str,
    mu: list[int],
    v: list[int],
    pmin: int,
    pmax: int,
    n_buckets: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
):
    """Accumulate the CURRENT-window drift histogram from an embedding
    stream: each micro-batch projects map-side against the frozen
    artifact, aggregates to ≤ n_buckets rows, and merges into the
    previous snapshot (sum-of-counts is associative, so batch chopping
    cannot change the histogram). Snapshots are keyed by batch id, each
    derived from the newest PREDECESSOR — replayed batches rebuild the
    same snapshot (the foreach_batch_rollup idempotency discipline).
    State: (bucket, n)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = drift_bucket_counts(
            batch_df, mu, v, pmin, pmax, n_buckets,
            vec_col=vec_col, id_col=id_col,
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("bucket")
            .agg(F.sum("n").alias("n"))
        )

    return snapshot_sink(stream_df, out_dir, update)


def read_drift_report(
    spark, out_dir: str, ref_hist: DataFrame
) -> DataFrame | None:
    """Compose the accumulated current histogram with the frozen
    reference one into the batch spec's report shape: (bucket, n_ref,
    n_cur, ppm_ref, ppm_cur, delta_ppm) — exact integer ppm, the PSI /
    total-variation inputs. 2·n_buckets rows in, n_buckets out."""
    cur = read_state(spark, out_dir)
    if cur is None:
        return None
    both = ref_hist.select(
        "bucket", F.col("n").alias("n_ref"), F.lit(0).cast("long").alias("n_cur")
    ).unionByName(
        cur.select(
            "bucket", F.lit(0).cast("long").alias("n_ref"),
            F.col("n").alias("n_cur"),
        )
    )
    g = both.groupBy("bucket").agg(
        F.sum("n_ref").cast("bigint").alias("n_ref"),
        F.sum("n_cur").cast("bigint").alias("n_cur"),
    )
    tot = g.agg(
        F.sum("n_ref").cast("long").alias("nrt"),
        F.sum("n_cur").cast("long").alias("nct"),
    )
    return g.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "n_ref",
        "n_cur",
        F.expr("CAST(n_ref * 1000000 div nrt AS BIGINT)").alias("ppm_ref"),
        F.expr("CAST(n_cur * 1000000 div nct AS BIGINT)").alias("ppm_cur"),
        F.expr(
            "CAST(n_cur * 1000000 div nct - n_ref * 1000000 div nrt AS BIGINT)"
        ).alias("delta_ppm"),
    )


def drift_scores(report_rows) -> dict:
    """Driver-side drift scores over the n_buckets-row report (the ONLY
    place a transcendental enters the monitor — the engine's report is
    exact integers; ln runs here over ≤ n_buckets scalars):

    - ``tvd_ppm``: total variation distance = Σ|delta_ppm| / 2, exact
      integer arithmetic end-to-end;
    - ``psi``: Population Stability Index Σ (p_cur - p_ref)·ln(p_cur /
      p_ref) over buckets with mass in BOTH windows (the standard
      smoothing-free convention; a bucket empty on one side contributes
      to ``n_onesided_buckets`` instead of an infinite term — at the
      usual >0.2 alert threshold a one-sided bucket is already the
      louder signal).
    """
    import math

    tvd2 = 0
    psi = 0.0
    onesided = 0
    for r in report_rows:
        tvd2 += abs(int(r["delta_ppm"]))
        pr, pc = int(r["ppm_ref"]), int(r["ppm_cur"])
        if pr > 0 and pc > 0:
            psi += (pc - pr) / 1e6 * math.log(pc / pr)
        elif pr != pc:
            onesided += 1
    return {
        "tvd_ppm": tvd2 // 2,
        "psi": psi,
        "n_onesided_buckets": onesided,
    }
