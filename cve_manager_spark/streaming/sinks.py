"""Streaming sinks (SURVEY §2.7 / pyspark guide exactly-once pattern).

``foreach_batch_parquet`` gives an idempotent parquet sink: each
micro-batch overwrites its own ``_batch_id=<n>`` partition, so a replayed
batch (failure/restart re-delivery) rewrites the same partition instead
of duplicating rows — exactly-once *effect* on top of at-least-once
delivery. The same shape carries any transactional target (JDBC upsert
by batch id, Delta MERGE) by swapping the writer body.

The mergeable states (upsert, rollup and the sketch family) share one
:func:`snapshot_sink`: each supplies only its state transition
``update(batch_df, prev)``. Every sink but :func:`stream_cdf_tail`
starts through :func:`_start`.

Three state families live under ``{out_dir}/_state_v{n}`` version dirs.
A SNAPSHOT version (:func:`snapshot_sink`) is the whole state, read as
the newest version. An OVERLAY version (the DAU key set, the join views
and the two-stream dim state) holds the full content of only the
partition values (``day`` or bucket ``kb``) its batch touched, so the
live state is each value's newest owner. A UNION version (the two-stream
facts) holds the rows its batch appended, so the live state is every
version's rows. The two log-structured families share one composer
(:func:`_overlay_compose`), one writer (:func:`_write_version`, always
through :func:`_sized`) and one fold (:func:`_fold_state`); the join
views also share one drop-then-re-add step (:func:`_replace_keys`).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from cve_manager_spark.functions.blocks import (
    checkpoint_rdd_ids as _checkpoint_rdd_ids,
    scoped_checkpoint_ids as _scoped_checkpoint_ids,
)

_STATE_PREFIX = "_state_v"


def _sized(df: DataFrame, pcol: str | None = None) -> DataFrame:
    """REBALANCE a state delta/snapshot before writing it (guide §6:
    sensible output file sizing). A plain ``partitionBy`` write emits
    one file per (task × touched partition dir), so a micro-batch
    append of a few thousand rows across a 256-value bucket column was
    writing hundreds-to-thousands of KB-sized files PER BATCH — and
    every subsequent state read pays the file listing (measured: a gate
    state reached 13k files for 55 MB, and each per-batch read ran a
    6622-path listing job). REBALANCE shuffles to one AQE-sized
    partition per bucket value (splitting skewed buckets at scale), so
    an append writes one right-sized file per touched dir; an
    unpartitioned snapshot gets advisory-sized files instead of one per
    upstream task."""
    return df.hint("rebalance", pcol) if pcol else df.hint("rebalance")


def _start(stream_df: DataFrame, write_batch, checkpoint_dir: str):
    """Start ``write_batch`` as the foreachBatch body of ``stream_df``
    with its offsets checkpointed at ``checkpoint_dir``, under the
    availableNow trigger (drain everything present, then stop) that
    every sink here runs with. Returns the started StreamingQuery."""
    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def foreach_batch_parquet(stream_df: DataFrame, out_dir: str):
    """Write a stream to parquet partitioned by micro-batch id,
    idempotently. Returns the started StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("overwrite")
            .parquet(f"{out_dir}/_batch_id={batch_id}")
        )

    return _start(stream_df, write_batch, f"{out_dir}/_checkpoint")


def _list_state_versions(spark, out_dir: str) -> list[int]:
    """Snapshot versions present under out_dir, via the Hadoop FS API (so
    the same code lists local disk, HDFS, or an object store)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if name.startswith(_STATE_PREFIX):
            out.append(int(name[len(_STATE_PREFIX):]))
    return sorted(out)


def _next_version(spark, out_dir: str) -> int:
    """Version number the next log-structured write under out_dir takes:
    one past the newest, 0 for an empty state."""
    versions = _list_state_versions(spark, out_dir)
    return versions[-1] + 1 if versions else 0


def read_state(spark, out_dir: str) -> DataFrame | None:
    """Current state written by :func:`snapshot_sink` (the newest
    ``_state_v{b}`` snapshot), or None before the first batch commits.
    Each sink's docstring names the columns its state carries."""
    versions = _list_state_versions(spark, out_dir)
    if not versions:
        return None
    return spark.read.parquet(f"{out_dir}/{_STATE_PREFIX}{versions[-1]}")


def snapshot_sink(stream_df: DataFrame, out_dir: str, update):
    """The snapshot discipline every mergeable state here shares (the
    merge framing of Agarwal et al., "Mergeable summaries", PODS 2012):
    each micro-batch writes a FULL, self-contained state snapshot to
    ``{out_dir}/_state_v{batch_id}``, computed as ``update(batch_df,
    prev)`` where ``prev`` is the newest snapshot with a smaller id
    (None before the first batch). A sink is its state transition
    ``update`` only; whatever trim or rank the state needs runs inside
    it, because it applies to the first batch too.

    Replayed batches (at-least-once delivery after a restart) rebuild
    the same snapshot from the same predecessor, so every snapshot sink
    is idempotent — exactly-once effect. The snapshot is REBALANCEd
    (:func:`_sized`) and written in overwrite mode; read it back with
    :func:`read_state`, retire old versions with
    :func:`vacuum_snapshot_state`."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        versions = [v for v in _list_state_versions(spark, out_dir) if v < batch_id]
        prev = (
            spark.read.parquet(f"{out_dir}/{_STATE_PREFIX}{versions[-1]}")
            if versions
            else None
        )
        _sized(update(batch_df, prev)).write.mode("overwrite").parquet(
            f"{out_dir}/{_STATE_PREFIX}{batch_id}"
        )

    return _start(stream_df, write_batch, f"{out_dir}/_checkpoint")


read_upsert_state = read_state


def _newest_per_key(df: DataFrame, key_cols, order_cols) -> DataFrame:
    """The newest row per ``key_cols``: rank 1 by ``order_cols``, all
    descending."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc() for c in order_cols]
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def _newest_wins(
    old: DataFrame | None, new: DataFrame, key_cols, order_cols
) -> DataFrame:
    """Newest row per key of ``old`` ∪ ``new``, ties on ``order_cols``
    to ``new`` (MERGE "when matched then update")."""
    cur = new.withColumn("__src", F.lit(1))
    if old is not None:
        cur = old.withColumn("__src", F.lit(0)).unionByName(cur)
    return _newest_per_key(cur, key_cols, [*order_cols, "__src"]).drop("__src")


def foreach_batch_upsert(
    stream_df: DataFrame,
    out_dir: str,
    key_cols: list[str],
    order_cols: list[str],
):
    """Streaming MERGE INTO emulation without a table format: maintain the
    newest row per key across micro-batches (the streaming twin of the
    batch ``cdc_upsert`` query — same union + ranking-window recipe).

    Each micro-batch writes a FULL state snapshot to
    ``{out_dir}/_state_v{batch_id}``, derived from the newest snapshot
    with a smaller id. Replayed batches (at-least-once delivery after a
    restart) rebuild the same snapshot from the same predecessor, so the
    sink is idempotent — exactly-once effect, like foreach_batch_parquet.
    Ties on ``order_cols`` resolve to the incoming batch (MERGE "when
    matched then update" semantics). Snapshot retention/compaction is the
    operator's concern; with Delta/Iceberg this whole function collapses
    to a real MERGE with file skipping. State (``read_upsert_state``):
    the input's columns, one row per key.
    """

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        return _newest_wins(prev, batch_df, key_cols, order_cols)

    return snapshot_sink(stream_df, out_dir, update)


def read_rollup_state(spark, out_dir: str) -> DataFrame | None:
    """Current day-grain rollup maintained by ``foreach_batch_rollup``
    (newest snapshot), emitted with the same schema as the batch
    ``rollup_cascade`` query: (day, n_events, sum_value double)."""
    snap = read_state(spark, out_dir)
    if snap is None:
        return None
    return snap.select(
        "day", "n_events", F.col("sv").cast("double").alias("sum_value")
    )


def foreach_batch_rollup(stream_df: DataFrame, out_dir: str):
    """Incrementally maintained materialized rollup: the streaming twin
    of the batch ``rollup_cascade`` query. Each micro-batch aggregates
    its OWN rows to day grain and re-aggregates against the previous
    snapshot — per batch the merge costs rows proportional to the
    rollup's cardinality (bounded by the calendar), never the events
    table, which is the whole point of maintaining a materialized view
    incrementally instead of recomputing it.

    Correctness rides on two invariants shared with the batch twin:
    the measure stays exact DECIMAL inside the state (sum-of-sums is
    associative, so any batch chopping yields the identical rollup —
    asserted stream==batch in tests), and snapshots are keyed by batch
    id with each one derived from the newest PREDECESSOR, so replayed
    batches rebuild the same snapshot (idempotent, same discipline as
    ``foreach_batch_upsert``). State: (day, n_events, sv decimal(38,4)).
    """
    from cve_manager_spark.functions.helpers import dec

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.groupBy(F.to_date("ts").alias("day")).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(dec(F.col("value"))).cast("decimal(38,4)").alias("sv"),
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("day")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("sv").cast("decimal(38,4)").alias("sv"),
            )
        )

    return snapshot_sink(stream_df, out_dir, update)


def _list_day_dirs(spark, ver_dir: str, col: str = "day") -> list[str]:
    """<col>=<value> partition values present under one log-structured
    version dir — directory NAMES only (Hadoop FS metadata, never row
    data), listed for :func:`_overlay_compose`; ``col`` names the hive
    partition column.

    A version dir holding parquet files DIRECTLY (no ``<col>=`` subdirs)
    is a pre-r7 FLAT snapshot; silently returning [] for it would drop
    that snapshot's entire history from every subsequent compose
    (ADVICE r7), so it raises loudly with the migration instruction
    instead."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(ver_dir)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    out = []
    flat_files = []
    prefix = f"{col}="
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith(prefix):
            out.append(name[len(prefix):])
        elif st.isFile() and not name.startswith(("_", ".")):
            flat_files.append(name)
    if flat_files and not out:
        raise ValueError(
            f"{ver_dir} is a FLAT snapshot (data files "
            f"{sorted(flat_files)[:3]} with no {prefix} dirs); composing "
            "over it would silently drop its history. Migrate once by "
            "rewriting it partitioned: spark.read.parquet(dir)"
            f".write.partitionBy('{col}').parquet(tmp) and swap."
        )
    return sorted(out)


def _overlay_compose(
    spark,
    out_dir: str,
    col: str = "kb",
    upto: int | None = None,
    parts_filter: set[str] | None = None,
    union: bool = False,
) -> DataFrame | None:
    """Current state of a log-structured state: each ``_state_v{b}`` dir
    holds rows for only the ``col`` partition values batch ``b``
    touched. An overlay version holds the FULL content of its values,
    so the live state is, per value, the newest version owning it; a
    ``union`` (insert-only) state keeps every version's rows. The
    value→version map is computed driver-side from directory listings
    (bounded: values × versions names, no rows), and each version is
    read through path-selected ``<col>=`` dirs — pruned at the
    file-listing level. ``upto`` excludes versions ≥ a replayed batch
    id; ``parts_filter`` restricts composition to a touched set."""
    read: dict[int, list[str]] = {}
    for v in _list_state_versions(spark, out_dir):
        if upto is not None and v >= upto:
            break
        read[v] = [
            d
            for d in _list_day_dirs(spark, f"{out_dir}/{_STATE_PREFIX}{v}", col)
            if parts_filter is None or d in parts_filter
        ]
    if not union:  # ascending: later versions take ownership
        owner = {d: v for v, ds in read.items() for d in ds}
        read = {v: [d for d in ds if owner[d] == v] for v, ds in read.items()}
    frames = []
    for v, ds in read.items():
        if ds:
            ver_dir = f"{out_dir}/{_STATE_PREFIX}{v}"
            paths = [f"{ver_dir}/{col}={d}" for d in sorted(ds)]
            frames.append(spark.read.option("basePath", ver_dir).parquet(*paths))
    return reduce(DataFrame.unionByName, frames) if frames else None


def _ss_kb(col_name: str, n_buckets: int):
    """Bucket of a join key: ``crc32(key) % n_buckets``, the ``kb``
    partition every join-view state is laid out by."""
    return F.pmod(
        F.crc32(F.col(col_name).cast("string")), n_buckets
    ).cast("int")


def _touched(df: DataFrame, col: str = "kb") -> set[str]:
    """Distinct ``col`` values of ``df`` as partition-dir names: the
    batch's touched set, bounded driver scalars (a micro-batch spans
    few days or buckets)."""
    return {str(r[0]) for r in df.select(col).distinct().collect()}


def _write_version(
    df: DataFrame, out_dir: str, col: str = "kb", batch_id: int | None = None
) -> int:
    """Write ``df`` as one log-structured version, REBALANCEd per
    ``col`` value (:func:`_sized`) and partitioned by it. A sink keyed
    by micro-batch writes version ``batch_id`` in overwrite mode, so a
    replayed batch rewrites its own version; otherwise the write takes
    the next version and fails if that dir exists. Returns the
    version."""
    if batch_id is None:
        v, mode = _next_version(df.sparkSession, out_dir), "errorifexists"
    else:
        v, mode = batch_id, "overwrite"
    _sized(df, col).write.mode(mode).partitionBy(col).parquet(
        f"{out_dir}/{_STATE_PREFIX}{v}"
    )
    return v


def _strictly_newer(
    rows: DataFrame, state: DataFrame, key: str, order_col: str
) -> DataFrame:
    """``rows`` whose ``order_col`` is strictly newer than every
    ``state`` row of their key, or whose key the state lacks — the true
    MERGE filter: ties keep the state, so re-delivering an update is a
    no-op and out-of-order CDC cannot clobber newer state."""
    cur = state.groupBy(key).agg(F.max(order_col).alias("__cur_ord"))
    return (
        rows.join(cur, key, "left")
        .where(
            F.col("__cur_ord").isNull() | (F.col(order_col) > F.col("__cur_ord"))
        )
        .drop("__cur_ord")
    )


def _replace_keys(
    out_dir: str,
    prev: DataFrame | None,
    rows: DataFrame | None,
    keys: DataFrame,
    key: str,
    batch_id: int | None = None,
) -> int | None:
    """The bucket-overlay rewrite step: the next version holds the
    touched buckets' current rows ``prev`` minus those whose ``key`` is
    in ``keys``, plus ``rows``. Dropping then re-adding by key makes
    re-applying the same change a no-op. Writes nothing when there is
    neither side; returns the version written."""
    if prev is not None:
        keep = prev.join(keys, on=key, how="left_anti")
        rows = keep if rows is None else keep.unionByName(rows)
    if rows is None:
        return None
    return _write_version(rows, out_dir, batch_id=batch_id)


def foreach_batch_distinct_rollup(stream_df: DataFrame, out_dir: str):
    """Incrementally maintained DAILY ACTIVE USERS: the streaming face
    of a metric plain aggregate merging cannot give — COUNT(DISTINCT
    user) per day is not a sum of per-batch counts, so the state is the
    (day, user_id) KEY SET itself, merged per batch with union+distinct
    (idempotent AND associative: any micro-batch chopping, replay, or
    duplicate delivery yields the identical set — asserted against the
    batch distinct in tests).

    Scale shape (r7, VERDICT r6 #3): the state is day-partitioned and
    LOG-STRUCTURED — each batch writes the merged key set for ONLY the
    days present in that batch into its own ``_state_v{b}/day=...``
    dirs, so per-batch write cost is bounded by the batch's day spread
    (watermark-bounded in a late-data topology), never by corpus
    lifetime; a year of history is NOT rewritten per micro-batch. The
    state itself stays the day×user pre-aggregate — the same bounded
    relation the batch DAU query aggregates — never raw events, and the
    merge shuffles only the touched days' sets. Replayed batches
    compose their predecessor state from versions < batch_id and
    rewrite their own version dir, so the sink stays idempotent
    (exactly-once effect). Read the series back with
    :func:`read_dau_state` / :func:`read_stickiness_state`, which
    compose per-day-newest across version dirs.
    """

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # rows whose ts fails to_date would land in a NULL-day hive
        # partition the touched-day bookkeeping cannot name (ADVICE r7);
        # a day-less event is meaningless for DAU, so drop it here.
        part = (
            batch_df.select(F.to_date("ts").alias("day"), "user_id")
            .where(F.col("day").isNotNull())
            .distinct()
        )
        prev = _overlay_compose(
            spark, out_dir, "day", upto=batch_id,
            parts_filter=_touched(part, "day"),
        )
        if prev is not None:
            part = prev.unionByName(part).distinct()
        _write_version(part, out_dir, "day", batch_id)

    return _start(stream_df, write_batch, f"{out_dir}/_checkpoint")


def compact_keyset_state(spark, out_dir: str) -> dict[str, int]:
    """Fold superseded key-set version dirs into one base version and
    delete them (VERDICT r7 #3): the log-structured DAU state accretes
    one ``_state_v{b}`` dir per batch forever — correct (compose reads
    per-day-newest) but a long-running stream's read-side owner map and
    directory listing grow without bound. Compaction folds every
    COMMITTED version (all but the newest) into a single
    day-partitioned base dir numbered with the newest folded batch id,
    so the compose result is unchanged.

    Replay safety: only the NEWEST version's batch can ever be
    re-delivered (version b existing proves batch b ran, which proves
    batch b−1 committed its checkpoint), and the newest version is
    never folded — so a replayed batch id is ≥ the base's number + 1
    and its ``upto=batch_id`` compose still includes the base.
    Idempotent: re-running compaction with ≤ 2 versions is a no-op.

    Swap discipline (maintenance.py COW precedent): the folded compose
    is written to a ``_compact_tmp`` sibling (underscore-prefixed —
    invisible to parquet reads; NOT ``_state_v``-prefixed, so a crashed
    leftover never parses as a version), row-count-verified, then the
    BASE dir alone is swapped (delete + rename — the same narrow window
    ``maintenance.compact`` has); only after the base holds the full
    folded compose are the OLDER folded dirs removed, which is safe at
    any point because the base is newer than all of them and compose
    takes the newest owner per day — a crash mid-cleanup just leaves
    superseded garbage the next compaction re-deletes.
    """
    return compact_overlay_state(spark, out_dir, "day")


def _fold_state(
    spark, out_dir: str, col: str, union: bool = False
) -> dict[str, int]:
    """Shared fold-and-swap for every log-structured state family:
    write the compose of every version but the newest into a verified
    tmp dir, swap it in as the base version (the newest FOLDED batch
    id), delete the older folded dirs. The newest version is never
    folded (replay safety — see :func:`compact_keyset_state`); crash at
    any point leaves either the old layout or superseded garbage the
    next fold re-deletes."""
    import shutil
    from pathlib import Path

    versions = _list_state_versions(spark, out_dir)
    if len(versions) <= 2:
        return {"folded": 0, "base": versions[-2] if len(versions) == 2 else -1}
    fold = versions[:-1]
    base_v = fold[-1]
    folded = _overlay_compose(
        spark, out_dir, col, upto=versions[-1], union=union
    )
    n_expect = folded.count()
    tmp = Path(out_dir) / "_compact_tmp"
    if tmp.exists():
        shutil.rmtree(tmp)
    _sized(folded, col).write.partitionBy(col).parquet(str(tmp))
    n_got = spark.read.option("basePath", str(tmp)).parquet(str(tmp)).count()
    if n_got != n_expect:
        shutil.rmtree(tmp)
        raise RuntimeError(
            f"state compaction verify failed for {out_dir}: wrote {n_got} "
            f"rows, expected {n_expect}; state untouched"
        )
    base_dir = Path(out_dir) / f"{_STATE_PREFIX}{base_v}"
    shutil.rmtree(base_dir)
    tmp.rename(base_dir)
    for v in fold[:-1]:
        shutil.rmtree(Path(out_dir) / f"{_STATE_PREFIX}{v}")
    return {"folded": len(fold), "base": base_v}


def compact_overlay_state(
    spark, out_dir: str, col: str = "kb"
) -> dict[str, int]:
    """Fold a bucket-keyed OVERLAY state (the incrementally maintained
    join views — dim-CDC, facts-CDF, and the two-stream dim/view
    states) into one base version: compose is per-bucket-newest, so
    the fold writes each bucket's current content once and the
    superseded owners disappear. Same replay-safe swap as the DAU
    key-set compaction, shared through :func:`_fold_state`."""
    return _fold_state(spark, out_dir, col)


def compact_union_state(
    spark, out_dir: str, col: str = "kb"
) -> dict[str, int]:
    """Fold an INSERT-ONLY union state (the two-stream facts relation):
    compose is the union of every version's rows, so the fold
    concatenates them into one base version dir — reads shrink from
    O(versions) file listings to two."""
    return _fold_state(spark, out_dir, col, union=True)


def compact_two_stream_state(spark, out_dir: str) -> dict[str, dict]:
    """Operational compaction for the two-stream join: fold the facts
    union state and both overlay states (dim, view) — the maintenance
    call a long-running double-CDC pipeline schedules so state reads
    stay O(buckets), not O(batches). Take the same host-local lock the
    sinks use, so compaction never interleaves with a live batch's
    read-compute-write cycle."""
    with _StateLock(out_dir):
        return {
            "facts_state": compact_union_state(
                spark, f"{out_dir}/facts_state"
            ),
            "dim_state": compact_overlay_state(
                spark, f"{out_dir}/dim_state"
            ),
            "view": compact_overlay_state(spark, f"{out_dir}/view"),
        }


def read_dau_state(spark, out_dir: str) -> DataFrame | None:
    """Current daily-active-users series maintained by
    ``foreach_batch_distinct_rollup``: (day, dau) from the composed
    (day, user) key-set state (per day, the newest version dir owning
    that day)."""
    snap = _overlay_compose(spark, out_dir, "day")
    if snap is None:
        return None
    return snap.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))


def read_stickiness_state(spark, out_dir: str) -> DataFrame | None:
    """DAU/WAU stickiness from the SAME key-set snapshot — no extra
    state: the (day, user) set is exactly the relation the batch
    ``dau_wau_stickiness`` query pre-aggregates, so WAU falls out of
    the explode-offsets rewrite over the snapshot (each row replicated
    to its 7 trailing windows → hash-partitioned COUNT DISTINCT), and
    the series matches the batch query row-for-row (tested). Emits
    (day, dau, wau, stickiness_ppm) for days with activity."""
    du = _overlay_compose(spark, out_dir, "day")
    if du is None:
        return None
    expanded = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "day", "user_id"
    ).select(F.date_add(F.col("day"), F.col("i")).alias("w_day"), "user_id")
    wau = expanded.groupBy(F.col("w_day").alias("day")).agg(
        F.countDistinct("user_id").alias("wau")
    )
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return dau.join(wau, "day").select(
        "day", "dau", "wau",
        F.expr("dau * 1000000 div wau").alias("stickiness_ppm"),
    )


def _marker_sink(stream_df, table_dir, apply_batch):
    """Shared foreachBatch scaffolding for the stateful-table sinks:
    the ``_last_batch`` replay marker (a replayed batch with id ≤ the
    marker is skipped — exactly-once effect over at-least-once
    delivery), the checkpoint location beside the table dir, and the
    availableNow trigger. ``apply_batch(batch_df, batch_id)`` runs only
    for fresh batches; the marker write FOLLOWS it, so a crash between
    them re-applies one batch (each sink documents how that window is
    closed — tagged commits for the dedup gates, newest-wins
    convergence for the merge sink)."""
    from pathlib import Path

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        marker = Path(table_dir + "_last_batch")
        if marker.exists() and batch_id <= int(marker.read_text()):
            return
        apply_batch(batch_df, batch_id)
        marker.write_text(str(batch_id))

    return _start(stream_df, write_batch, f"{table_dir}_checkpoint")


def _gated_dedup_sink(
    stream_df: DataFrame,
    table_dir: str,
    *,
    relations: "list[tuple[str, str | None]]",
    encode,
    candidates,
    outputs,
    committed: bool = False,
    read_override: "dict | None" = None,
    write_override: "dict | None" = None,
):
    """The streaming dedup-gate protocol, extracted once (VERDICT r10
    #5) so the per-modality gates are thin configs instead of four
    copies of the same ~160-line skeleton:

        marker check → encode batch → candidate joins (batch×batch +
        batch×seen-state) → verdict/index append → marker write

    Parameterization:

    - ``relations``: ordered ``[(name, partition_col)]`` state
      relations under ``table_dir`` (name ``""`` = the table dir
      itself). The LAST relation's log/dir presence marks the bootstrap
      complete; on a committed bootstrap it is initialized last, so
      every crash window inside the first batch replays into the
      bootstrap branch and each relation is individually resumable (a
      relation whose log already exists is skipped; the last is
      re-overwritten, clobbering any crashed remnant).
    - ``encode(batch_df) -> ctx``: modality encoding (map-side, no
      state read); DataFrames in ctx may be persisted — the skeleton
      unpersists every DataFrame value afterwards.
    - ``candidates(spark, ctx, state_of) -> DataFrame``: the dropped-id
      relation. ``state_of(name)`` reads a state relation through the
      commit log (committed) or plain parquet, or returns None during
      bootstrap; pruning (cell / key-prefix / value-bucket ``isin``)
      happens inside, where the modality knows its partition column.
    - ``outputs(ctx, dropped) -> {name: DataFrame}``: the rows to
      append per relation.
    - ``committed=True`` routes every relation through its own
      :class:`~cve_manager_spark.commitlog.TableLog` with TAGGED
      appends (``append@b<batch_id>``): on replay a log whose newest
      commit already carries the batch's tag is skipped, so a crash
      between two logs' commits — or between the single log's commit
      and the marker write — re-applies only the missing half, never
      double-appends.
    - ``read_override`` / ``write_override``: per-relation hooks for
      state kept outside the parquet-dir convention (the MinHash gate's
      bucketed catalog doc table).
    """
    from pathlib import Path

    from cve_manager_spark.commitlog import TableLog

    def rel_dir(name: str) -> str:
        return table_dir if name == "" else str(Path(table_dir) / name)

    def _write(df: DataFrame, d: str, pcol: "str | None", mode: str) -> None:
        w = _sized(df, pcol).write
        if pcol:
            w = w.partitionBy(pcol)
        w.mode(mode).parquet(d)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ctx = encode(batch_df)
        try:
            last_name, last_pcol = relations[-1]
            ldir = rel_dir(last_name)
            boot_complete = (
                TableLog(ldir).latest_version() is not None
                if committed
                else any(Path(ldir).rglob("*.parquet"))
            )

            def state_of(name: str) -> "DataFrame | None":
                if not boot_complete:
                    return None
                if read_override and name in read_override:
                    return read_override[name](spark)
                d = rel_dir(name)
                return (
                    TableLog(d).read(spark)
                    if committed
                    else spark.read.parquet(d)
                )

            dropped = candidates(spark, ctx, state_of)
            outs = outputs(ctx, dropped)
            if committed and not boot_complete:
                for name, pcol in relations[:-1]:
                    log = TableLog(rel_dir(name))
                    if log.latest_version() is None:
                        _write(outs[name], rel_dir(name), pcol, "overwrite")
                        log.init()
                _write(outs[last_name], ldir, last_pcol, "overwrite")
                TableLog(ldir).init()
            elif committed:
                tag = f"b{batch_id}"
                for name, _pcol in reversed(relations):
                    log = TableLog(rel_dir(name))
                    if log.last_op() != f"append@{tag}":
                        # same file-sizing discipline as the plain-parquet
                        # path: the log stages exactly the partitions the
                        # rebalanced delta carries
                        log.append(spark, _sized(outs[name], _pcol), tag=tag)
            else:
                mode = "append" if boot_complete else "overwrite"
                for name, pcol in relations:
                    if write_override and name in write_override:
                        write_override[name](outs[name])
                    else:
                        _write(outs[name], rel_dir(name), pcol, mode)
        finally:
            for v in ctx.values():
                if isinstance(v, DataFrame):
                    v.unpersist()

    return _marker_sink(stream_df, table_dir, apply_batch)


def foreach_batch_merge_lake(
    stream_df: DataFrame,
    table_dir: str,
    key_cols: list[str],
    order_cols: list[str],
    committed: bool = False,
):
    """Streaming CDC MERGE into a plain parquet lake table: each
    micro-batch is reduced to its newest row per key, then applied with
    ``maintenance.merge_upsert`` — a copy-on-write upsert that rewrites
    only the files holding matched keys. Unlike ``foreach_batch_upsert``
    (full snapshot per batch), the table is ONE directory whose
    untouched files persist across batches — the true lakehouse shape,
    where per-batch cost follows the update's key spread, not table
    size.

    Exactly-once effect over at-least-once delivery comes from a
    transaction marker (``_last_batch``): a replayed batch with id ≤
    the marker is skipped, because re-merging an OLD batch after a
    newer one would regress keys to stale rows (the snapshot sink is
    naturally immune; a single shared table needs the log — exactly
    the role of the Delta/Iceberg commit log). Marker write follows the
    merge, so a crash between them re-applies one batch; application
    order per key is newest-wins WITHIN a batch and the marker keeps
    batches ordered, so the re-application converges to the same table.

    ``committed=True`` runs the table through
    :class:`cve_manager_spark.commitlog.TableLog`: each micro-batch
    merge publishes one atomic manifest version, incumbents are read
    through the latest manifest, and a CONCURRENT writer — the
    stream-vs-batch-maintenance race the ``_last_batch`` marker cannot
    arbitrate, since it is per-stream — surfaces as a commit conflict
    that the batch resolves by recomputing its winners against the
    fresh snapshot and retrying (bounded, then loud). Maintenance jobs
    (compaction, retention deletes) on the same table go through the
    same log, so neither side can interleave files into a mixed layout.
    """
    from pathlib import Path

    from cve_manager_spark import maintenance
    from cve_manager_spark.commitlog import CommitConflict, TableLog

    # checkpoint and marker live BESIDE the table dir: the first batch
    # bootstraps the table with mode("overwrite"), which would wipe
    # anything stored inside it
    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        newest = _newest_per_key(batch_df, key_cols, order_cols)

        def winners_vs(incumbent_df: DataFrame) -> DataFrame:
            # MERGE condition: update only when the incoming row is newer.
            # Batches are not time-ordered (a later file can carry older
            # events), so the row applied per key is the winner between
            # the incumbent table row and the batch row — ties to the
            # incoming side (same as foreach_batch_upsert).
            incumbent = incumbent_df.join(
                newest.select(*key_cols), key_cols, "left_semi"
            )
            return _newest_wins(incumbent, newest, key_cols, order_cols)

        tdir = Path(table_dir)
        if not any(tdir.glob("*.parquet")):
            newest.write.mode("overwrite").parquet(table_dir)
            if committed:
                TableLog(table_dir).init()
        elif committed:
            log = TableLog(table_dir)
            if log.latest_version() is None:
                # crash-safe bootstrap: a crash between the first batch's
                # overwrite write and init() leaves data files with no
                # log; adopting them here keeps the documented
                # "re-application converges" property instead of wedging
                # the stream on merge_upsert's no-commit-log error
                log.init()
            # winners computed against the SNAPSHOT being merged into; a
            # concurrent maintenance commit (compact/delete through the
            # same log) invalidates both, so recompute-and-retry — the
            # optimistic-concurrency loop a streaming writer runs against
            # a shared table's transaction log. ONE version is pinned per
            # attempt (read and publish-parent alike): winners derived
            # from v must publish against v, or a commit landing between
            # the read and the merge would be silently clobbered.
            for attempt in range(3):
                v, _ = log.snapshot()
                try:
                    log.merge_upsert(
                        spark,
                        winners_vs(log.read(spark, version=v)),
                        key_cols=key_cols,
                        expected_version=v,
                    )
                    break
                except CommitConflict:
                    if attempt == 2:
                        raise
        else:
            winner = winners_vs(spark.read.parquet(table_dir))
            maintenance.merge_upsert(spark, table_dir, winner, key_cols=key_cols)

    return _marker_sink(stream_df, table_dir, apply_batch)


def _file_stream(
    spark, path: str, fallback_schema: str, max_files_per_trigger: int | None
) -> DataFrame:
    """Parquet drop-folder stream. readStream needs an explicit schema,
    so a batch read probes it from the files (column types follow what
    landed), falling back to ``fallback_schema`` for a not-yet-populated
    dir."""
    from pyspark.errors import AnalysisException

    from cve_manager_spark.session import tune

    tune(spark)
    try:
        schema = spark.read.parquet(path).schema
    except AnalysisException:
        schema = fallback_schema
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def read_vectors_stream(
    spark: DataFrame, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based embeddings stream (parquet dir of (vec_id, embedding[,
    label]) files — the nightly-crawl drop-folder shape); the probed
    schema carries the files' element type (float vs double), the
    fallback is the testdata layout."""
    return _file_stream(
        spark, path, "vec_id bigint, embedding array<float>, label int",
        max_files_per_trigger,
    )


def foreach_batch_semantic_dedup(
    stream_df: DataFrame,
    table_dir: str,
    centroids: list[list[int]],
    committed: bool = False,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming SemDeDup gate: the incremental semantic dedup
    (``semantic_dedup_incremental``'s frozen-cell shape) as a continuous
    ingest sink. Each micro-batch of embeddings is

    1. encoded MAP-SIDE against the frozen codebook (``encode_frozen`` —
       no shuffle, no retrain: the codebook travels as a literal),
    2. tested for duplicates with the greedy keep-lowest-id policy via
       two cell-keyed equi-joins — against the batch itself (intra) and
       against the SEEN table (cross), never all-pairs,
    3. appended to the seen table with a ``kept`` verdict per vector.

    The seen table is hive-partitioned by ``cluster``, and the cross
    join reads ONLY the partitions for cells present in the batch (the
    cell list is ≤ k driver-side values → an ``isin`` partition filter),
    so per-batch cost follows |batch| × the touched cells' occupancy —
    the |new| × |corpus-cell| bound of the batch spec, never corpus².

    The SemDeDup drop policy is non-recursive (x drops iff ANY lower-id
    cell-mate is within the threshold, kept or not), so micro-batch
    chopping cannot change the verdicts as long as ids arrive
    non-decreasing across batches — with id-ordered arrival the stream's
    final seen table equals the one-shot batch computation bit-for-bit
    (the differential test). Out-of-order arrival degrades gracefully:
    an already-written verdict is never retroactively flipped, the
    documented divergence of any online dedup gate.

    Exactly-once over at-least-once replay: the ``_last_batch`` marker
    (same protocol as :func:`foreach_batch_merge_lake` — appends of a
    replayed batch would duplicate seen rows, which the marker prevents;
    marker write follows the append, so a crash between them re-applies
    one batch whose rows then exist twice under plain parquet — the
    ``committed=True`` path closes even that window with the TAGGED
    append protocol shared by every gate: the replayed batch sees its
    ``append@b<batch_id>`` tag in the log's newest commit and skips).

    ``committed=True`` routes the seen table through
    :class:`~cve_manager_spark.commitlog.TableLog`: one atomic manifest
    version per batch via the blind-append fast path (conflict with a
    concurrent maintenance writer = re-publish the already-staged files,
    no recompute), and readers resolve the manifest.
    """
    from cve_manager_spark.operators.semantic import (
        dup_dominated,
        encode_frozen,
    )

    def encode(batch_df: DataFrame) -> dict:
        return {
            "enc": encode_frozen(
                batch_df, centroids, vec_col=vec_col, id_col=id_col
            ).persist()
        }

    def candidates(spark, ctx, state_of):
        enc = ctx["enc"]
        dropped = dup_dominated(enc, enc, id_col=id_col)
        seen = state_of("")
        if seen is not None:
            cells = [
                r["cluster"]
                for r in enc.select("cluster").distinct().collect()
            ]
            # partition-pruned: only the batch's cells are scanned
            seen = seen.where(F.col("cluster").isin(cells)).select(
                id_col, "q", "qq", "cluster"
            )
            dropped = dropped.unionByName(
                dup_dominated(enc, seen, id_col=id_col)
            ).distinct()
        return dropped

    def outputs(ctx, dropped) -> dict:
        out = (
            ctx["enc"]
            .join(dropped.withColumn("__d", F.lit(1)), id_col, "left")
            .select(
                id_col,
                "q",
                "qq",
                F.col("__d").isNotNull().alias("dropped"),
                "cluster",
            )
        )
        return {"": out}

    return _gated_dedup_sink(
        stream_df,
        table_dir,
        relations=[("", "cluster")],
        encode=encode,
        candidates=candidates,
        outputs=outputs,
        committed=committed,
    )


def foreach_batch_digest_dedup(
    stream_df: DataFrame,
    table_dir: str,
    committed: bool = False,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming EXACT-digest dedup gate — the first dedup modality
    (16-byte md5 content digests), expressed as a thin config of the
    shared :func:`_gated_dedup_sink` protocol like the semantic /
    MinHash / pHash gates. Where :mod:`streaming.stateful`'s
    ``transformWithStateInPandas`` processor keeps digest state inside
    the streaming engine (TTL'd, per-partition), this gate keeps it in
    a QUERYABLE table — one relation at ``table_dir``, hive-partitioned
    by the first 2 hex chars of the digest, so the per-batch cross join
    is partition-pruned to ≤ 256 prefix buckets and the verdicts are a
    plain parquet/commit-log table any batch job can read.

    Exact match needs no verify join: the partition key prefix + digest
    equality IS the test, so per-batch cost is |batch| × touched-bucket
    occupancy — never corpus². Greedy keep-lowest-id is non-recursive,
    so id-ordered arrival reproduces the one-shot batch verdicts
    exactly (differential-tested); replay is idempotent via the marker,
    and ``committed=True`` adds the tagged-append protocol (a crash
    between the append commit and the marker write cannot double-append
    on replay)."""

    def encode(batch_df: DataFrame) -> dict:
        enc = batch_df.select(
            F.col(id_col).alias("id"),
            F.md5(F.col(text_col)).alias("digest"),
        ).withColumn("db", F.substring("digest", 1, 2)).persist()
        return {"enc": enc}

    def candidates(spark, ctx, state_of):
        enc = ctx["enc"]
        own = enc.select(
            "digest", F.col("id").alias("id_o")
        )
        seen = state_of("")
        if seen is not None:
            dbs = [
                r["db"] for r in enc.select("db").distinct().collect()
            ]
            # partition-pruned: only the batch's prefix buckets scanned
            own = own.unionByName(
                seen.where(F.col("db").isin(dbs)).select(
                    "digest", F.col("id").alias("id_o")
                )
            )
        return (
            enc.join(own, "digest")
            .where(F.col("id_o") < F.col("id"))
            .select("id")
            .distinct()
        )

    def outputs(ctx, dropped) -> dict:
        out = (
            ctx["enc"]
            .join(dropped.withColumn("__d", F.lit(1)), "id", "left")
            .select(
                "db", "digest", "id", F.col("__d").isNotNull().alias("dup")
            )
        )
        return {"": out}

    return _gated_dedup_sink(
        stream_df,
        table_dir,
        relations=[("", "db")],
        encode=encode,
        candidates=candidates,
        outputs=outputs,
        committed=committed,
    )


def read_documents_stream(
    spark, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-based documents stream (parquet dir of crawl drops); schema
    probed from a batch read, falling back to the testdata layout."""
    return _file_stream(
        spark, path, "doc_id bigint, source string, lang string, text string",
        max_files_per_trigger,
    )


def foreach_batch_minhash_dedup(
    stream_df: DataFrame,
    table_dir: str,
    n: int = 2,
    num_hashes: int = 32,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    docs_bucket_table: str | None = None,
    n_buckets: int = 8,
    committed: bool = False,
):
    """Streaming incremental-MinHash gate: the third dedup modality
    (after exact digests and embedding cells) as a continuous ingest
    sink. Each micro-batch of documents is

    1. encoded per-document (``minhash_encode``: md5 min-hash
       signatures, ``bands`` band keys — one batch-local doc-keyed
       aggregate, nothing read from the corpus),
    2. tested with the greedy keep-lowest-id policy via the directional
       band equi-join (``minhash_dominated``) against the batch itself
       PLUS the seen state — candidates are band collisions only, never
       corpus²,
    3. appended to two state relations: ``docs/`` (doc_id, shingles,
       dup) and ``bands/`` (band, key, doc_id) hive-partitioned by
       ``kb`` — the first 2 hex chars of md5(key) — so the cross-join's
       band-side read is PARTITION-PRUNED to the ≤ 256 key-prefix
       buckets the batch actually probes (the local analogue of a
       (band, key)-bucketed LSH index).

    The verify side reads the doc-grain state relation un-pruned (a
    candidate's old doc can live anywhere). Passing ``docs_bucket_table``
    (a catalog table name) stores that relation BUCKETED by id via
    ``maintenance.write_bucketed``'s contract: the per-batch verify join
    then consumes the on-disk hash distribution — the state side never
    exchanges, only the (small) candidate side shuffles to match
    (plan-asserted in tests). Without it the state is a plain parquet
    dir and the trade stays documented, as in the batch
    ``minhash_incremental_dups`` spec. Zero-shingle documents
    carry no signature and are not recorded (same exclusion as every
    det-MinHash face).

    Like the semantic gate: the drop policy is non-recursive, so with
    ids non-decreasing across batches the final state equals the
    one-shot batch computation exactly (differential-tested); replay is
    idempotent through the ``_last_batch`` marker.

    ``committed=True`` routes BOTH state relations through their own
    :class:`~cve_manager_spark.commitlog.TableLog` (one atomic manifest
    version per applied batch each). The crash window between the two
    logs' commits is closed by TAGGED appends: each append stamps
    ``append@b<batch_id>`` into its manifest, and a replayed batch
    skips any log whose newest commit already carries its tag — so a
    crash after the bands commit but before the docs commit re-applies
    only the missing half, never double-appends. Incompatible with
    ``docs_bucket_table`` (catalog tables are not commit-logged)."""
    from cve_manager_spark.operators.dedup import (
        minhash_dominated,
        minhash_encode,
    )

    if committed and docs_bucket_table:
        raise ValueError(
            "committed=True and docs_bucket_table are mutually exclusive"
        )

    def encode(batch_df: DataFrame) -> dict:
        sh, keys = minhash_encode(
            batch_df, id_col=id_col, text_col=text_col,
            n=n, num_hashes=num_hashes, bands=bands,
        )
        return {"sh": sh.persist(), "keys": keys.persist()}

    def candidates(spark, ctx, state_of):
        sh, keys = ctx["sh"], ctx["keys"]
        dropped = minhash_dominated(keys, sh, keys, sh)
        bands_rel = state_of("bands")
        if bands_rel is not None:
            kbs = [
                r["kb"]
                for r in keys.select(
                    F.substring(F.md5("key"), 1, 2).alias("kb")
                ).distinct().collect()
            ]
            seen_keys = bands_rel.where(F.col("kb").isin(kbs)).select(
                "id", "band", "key"
            )
            # the seen side verifies SEPARATELY from the intra-batch
            # pass: a union with the batch relation would erase the
            # bucketed table's on-disk distribution and bring the
            # state-side exchange back
            seen_sh = state_of("docs").select("id", "shingles")
            dropped = dropped.unionByName(
                minhash_dominated(keys, sh, seen_keys, seen_sh)
            ).distinct()
        return dropped

    def outputs(ctx, dropped) -> dict:
        out = (
            ctx["sh"]
            .join(dropped.withColumn("__d", F.lit(1)), "id", "left")
            .select("id", "shingles", F.col("__d").isNotNull().alias("dup"))
        )
        band_rows = ctx["keys"].select(
            F.substring(F.md5("key"), 1, 2).alias("kb"), "band", "key", "id"
        )
        return {"docs": out, "bands": band_rows}

    read_override = write_override = None
    if docs_bucket_table:
        read_override = {"docs": lambda spark: spark.table(docs_bucket_table)}
        write_override = {
            "docs": lambda df: df.write.format("parquet")
            .bucketBy(n_buckets, "id")
            .sortBy("id")
            .mode("append")
            .saveAsTable(docs_bucket_table)
        }

    return _gated_dedup_sink(
        stream_df,
        table_dir,
        relations=[("docs", None), ("bands", "kb")],
        encode=encode,
        candidates=candidates,
        outputs=outputs,
        committed=committed,
        read_override=read_override,
        write_override=write_override,
    )


def foreach_batch_phash_dedup(
    stream_df: DataFrame,
    table_dir: str,
    threshold: int = 6,
    committed: bool = False,
):
    """Streaming perceptual-hash dedup gate — the FOURTH continuous
    dedup modality (exact digests / embedding cells / MinHash bands /
    now Hamming-banded image aHash). Each micro-batch of documents is

    1. encoded map-side: attach_binary → decode_resize(8×8) →
       phash_ahash (Arrow mapInPandas kernels; the stub decoder is the
       deterministic sha256 tiling — in production the stream carries
       real image bytes and ``real_decoder`` swaps in, changing ONLY
       the pixel source),
    2. tested with greedy keep-lowest-id via the 4×16-bit band
       equi-join against the batch plus the seen band index, both
       sides' band ints carried IN-ROW so the exact Hamming ≤ threshold
       verify needs no join-back fetch (the dedup_image_phash plan
       discipline),
    3. appended: verdicts to ``docs/`` (id, phash_hex, dup), band rows
       to ``bands/`` hive-partitioned by ``vb = v div 256`` so the
       cross-join's state read is partition-pruned to the ≤ 256 value
       buckets the batch actually probes.

    Same composability argument as the other gates: the drop test is
    non-recursive, so id-ordered arrival reproduces the one-shot batch
    verdicts exactly (differential-tested); replay is idempotent via
    the ``_last_batch`` marker. ``committed=True`` versions both state
    relations through their own commit log with the tagged two-log
    protocol the MinHash gate proves (append@b<batch_id> tags +
    last_op() skip on replay; bands log initialized last marks the
    bootstrap complete)."""
    from cve_manager_spark.operators.multimodal import (
        attach_binary,
        decode_resize,
        phash_ahash,
    )

    def encode(batch_df: DataFrame) -> dict:
        docs = batch_df.withColumn("text", F.substring("text", 1, 32))
        ph = phash_ahash(
            decode_resize(attach_binary(docs), target=(8, 8))
        ).persist()
        bandcols = [f"band{j}" for j in range(4)]
        m = ph.select(
            F.col("doc_id").alias("id"),
            *[F.col(c).alias(f"b{j}") for j, c in enumerate(bandcols)],
            F.explode(
                F.array(
                    *[
                        F.struct(F.lit(j).alias("j"), F.col(c).alias("v"))
                        for j, c in enumerate(bandcols)
                    ]
                )
            ).alias("bk"),
        ).select(
            "id", "b0", "b1", "b2", "b3",
            F.col("bk.j").alias("j"), F.col("bk.v").alias("v"),
        )
        return {"ph": ph, "m": m}

    def candidates(spark, ctx, state_of):
        m = ctx["m"]
        others = m
        bands_rel = state_of("bands")
        if bands_rel is not None:
            vbs = [
                r["vb"]
                for r in m.select(
                    F.expr("CAST(v div 256 AS INT)").alias("vb")
                ).distinct().collect()
            ]
            seen = bands_rel.where(F.col("vb").isin(vbs)).select(
                "id", "b0", "b1", "b2", "b3", "j", "v"
            )
            others = m.unionByName(seen)
        o = others.select(
            F.col("id").alias("id_o"), "j", "v",
            *[F.col(f"b{j}").alias(f"ob{j}") for j in range(4)],
        )
        hamming = sum(
            F.bit_count(
                F.col(f"b{j}").cast("bigint").bitwiseXOR(
                    F.col(f"ob{j}").cast("bigint")
                )
            )
            for j in range(4)
        )
        return (
            m.join(o, ["j", "v"])
            .where(F.col("id_o") < F.col("id"))
            .where(hamming <= threshold)
            .select("id")
            .distinct()
        )

    def outputs(ctx, dropped) -> dict:
        out = ctx["ph"].select(
            F.col("doc_id").alias("id"), "phash_hex", "band0",
            "band1", "band2", "band3",
        ).join(dropped.withColumn("__d", F.lit(1)), "id", "left")
        verdicts = out.select(
            "id", "phash_hex", F.col("__d").isNotNull().alias("dup")
        )
        band_rows = ctx["m"].select(
            F.expr("CAST(v div 256 AS INT)").alias("vb"),
            "j", "v", "id", "b0", "b1", "b2", "b3",
        )
        return {"docs": verdicts, "bands": band_rows}

    return _gated_dedup_sink(
        stream_df,
        table_dir,
        relations=[("docs", None), ("bands", "vb")],
        encode=encode,
        candidates=candidates,
        outputs=outputs,
        committed=committed,
    )


def _hex_bucket(expr: str) -> str:
    """First hex digit of md5(expr) as 0..15 — the engine-reproducible
    bucket function the batch CMS specs use (plans/sketches.py)."""
    return f"(locate(substring(md5({expr}), 1, 1), '0123456789abcdef') - 1)"


def foreach_batch_cms(
    stream_df: DataFrame,
    out_dir: str,
    key_expr: str = "cast(user_id as string)",
    rows: int = 4,
):
    """Streaming CountMin sketch — the capacity-bounded frequency state
    the batch ``countmin_estimate_error`` audit prices (same md5 bucket
    family, d=4 × w=16): each micro-batch reduces to ≤ d·w (row,
    bucket, count) increments and merges into the previous snapshot by
    SUM. Counter addition is associative and commutative, so batch
    chopping cannot change the sketch — the defining CMS property, here
    proven stream == batch instead of assumed. State is d·w integers
    regardless of stream volume; snapshots are keyed by batch id with
    each derived from the newest predecessor (the foreach_batch_rollup
    idempotency discipline), so replays rebuild identical state.
    State (``read_cms_state``): (r, b, c)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch_df.select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(r).alias("r"),
                                F.expr(
                                    _hex_bucket(
                                        f"concat(cast({r} as string), ':', "
                                        f"{key_expr})"
                                    )
                                )
                                .cast("int")
                                .alias("b"),
                            )
                            for r in range(rows)
                        ]
                    )
                ).alias("rb")
            )
            .select("rb.r", "rb.b")
            .groupBy("r", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("r", "b")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )

    return snapshot_sink(stream_df, out_dir, update)


read_cms_state = read_state


def cms_estimate(
    keys_df: DataFrame, state_df: DataFrame, key_col: str = "key",
    rows: int = 4,
) -> DataFrame:
    """Point-query the sketch: per key, min over rows of its bucket's
    total — the CMS upper-bound estimate. The ≤ d·w-row state
    broadcasts; the probe is d narrow joins over the key relation."""
    out = keys_df
    for r in range(rows):
        br = F.expr(
            _hex_bucket(f"concat(cast({r} as string), ':', {key_col})")
        ).cast("int")
        t = state_df.where(F.col("r") == r).select(
            F.col("b").alias(f"__b{r}"), F.col("c").alias(f"__c{r}")
        )
        out = out.withColumn(f"__b{r}", br).join(
            F.broadcast(t), f"__b{r}", "left"
        )
    est = F.least(*[F.coalesce(F.col(f"__c{r}"), F.lit(0)) for r in range(rows)])
    return out.select(
        key_col, est.cast("bigint").alias("estimate")
    )


def _bloom_bit(kexpr: str, key_expr: str) -> F.Column:
    """Bit position 0..255 for hash-fn k over a key: first two hex
    digits of md5('k:key') — the batch bloom_fp_audit family."""
    s = f"concat(cast({kexpr} as string), ':', {key_expr})"
    hx1 = f"(locate(substring(md5({s}), 1, 1), '0123456789abcdef') - 1)"
    hx2 = f"(locate(substring(md5({s}), 2, 1), '0123456789abcdef') - 1)"
    return (F.expr(hx1) * 16 + F.expr(hx2)).cast("int")


def foreach_batch_bloom(
    stream_df: DataFrame,
    out_dir: str,
    key_expr: str = "cast(user_id as string)",
    k: int = 3,
):
    """Streaming Bloom filter — the membership state the batch
    ``bloom_fp_audit`` prices (256 bits, k=3 md5 hash functions): each
    micro-batch reduces to its ≤ 256 distinct set-bit positions and
    merges into the previous snapshot by set UNION. Bit-OR is
    associative, commutative AND idempotent, so neither batch chopping
    nor replay can change the filter; snapshots still key by batch id
    for the uniform restart discipline. State is ≤ 256 ints forever —
    the whole point of the sketch.
    State (``read_bloom_state``): (b) — the set bit positions."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        ks = batch_df.sparkSession.range(0, k).select(
            F.col("id").cast("int").alias("k")
        )
        part = (
            batch_df.crossJoin(F.broadcast(ks))
            .select(_bloom_bit("k", key_expr).alias("b"))
            .distinct()
        )
        if prev is None:
            return part
        return prev.unionByName(part).distinct()

    return snapshot_sink(stream_df, out_dir, update)


read_bloom_state = read_state


def bloom_might_contain(
    keys_df: DataFrame, state_df: DataFrame, key_col: str = "key",
    k: int = 3,
) -> DataFrame:
    """Probe the filter: might_contain(key) = all k bits set — no false
    negatives by construction, false-positive rate priced by the batch
    bloom_fp_audit. The ≤ 256-row state broadcasts; the probe is one
    explode + join + all-set aggregate over the key relation."""
    spark = keys_df.sparkSession
    ks = spark.range(0, k).select(F.col("id").cast("int").alias("__k"))
    pr = keys_df.crossJoin(F.broadcast(ks)).select(
        key_col, _bloom_bit("__k", key_col).alias("b")
    )
    hit = pr.join(
        F.broadcast(state_df.withColumn("__s", F.lit(1))), "b", "left"
    )
    return hit.groupBy(key_col).agg(
        (F.sum(F.coalesce("__s", F.lit(0))) == k).alias("might_contain")
    )


def foreach_batch_occupancy(
    stream_df: DataFrame,
    out_dir: str,
    group_col: str = "event_type",
    key_expr: str = "cast(user_id as string)",
):
    """Streaming linear-counting state — the occupancy sketch the batch
    ``distinct_bucket_occupancy`` audit prices (256 md5 buckets per
    group): each micro-batch reduces to its distinct (group, bucket)
    rows and merges by set UNION — idempotent and commutative like the
    Bloom bits, so chopping and replay cannot change it. State is
    ≤ #groups × 256 rows regardless of stream volume; the distinct
    estimate itself (−w·ln(1 − occupied/w)) is driver-side over the
    per-group report (:func:`linear_count_estimate`) — the ln never
    enters the engine, same rule as the drift PSI.
    State (``read_occupancy_state``): (g, b)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        b = (
            F.expr(_hex_bucket(key_expr)) * 16
            + F.expr(
                f"(locate(substring(md5({key_expr}), 2, 1), "
                "'0123456789abcdef') - 1)"
            )
        ).cast("int")
        part = batch_df.select(
            F.col(group_col).alias("g"), b.alias("b")
        ).distinct()
        if prev is None:
            return part
        return prev.unionByName(part).distinct()

    return snapshot_sink(stream_df, out_dir, update)


read_occupancy_state = read_state


def linear_count_estimate(report_rows, w: int = 256) -> dict:
    """Driver-side linear-counting estimates over the per-group
    occupancy report: n̂ = −w·ln(1 − occupied/w); a saturated group
    (occupied == w) has no finite estimate and is reported in
    ``saturated`` instead — at saturation the sketch's answer is 'use
    a wider one', which is what the batch width sweep prices."""
    import math

    est: dict = {"estimates": {}, "saturated": []}
    for r in report_rows:
        g, occ = r["g"], int(r["occupied"])
        if occ >= w:
            est["saturated"].append(g)
        else:
            est["estimates"][g] = -w * math.log(1 - occ / w)
    return est


def foreach_batch_quantile_hist(
    stream_df: DataFrame,
    out_dir: str,
    group_col: str = "event_type",
    value_expr: str = "CAST(FLOOR(value * 1000) AS BIGINT)",
):
    """Streaming log2-bucket quantile histogram — the quantile member
    of the sketch-state family (CMS frequency, Bloom membership,
    occupancy cardinality), and the twin of the batch
    ``logbucket_quantile_error`` audit: each micro-batch reduces to
    <= #groups x 64 (group, bucket, count) rows (bucket =
    LENGTH(bin(v)), engine-exact — no float log2) and merges into the
    previous snapshot by SUM. Counter addition is associative and
    commutative, so micro-batch chopping cannot change the sketch —
    the merge law KLL/t-digest implementations assume, here proven
    stream == batch. State is bounded by #groups x 64 counters
    regardless of stream volume; snapshots are keyed by batch id, each
    derived from the newest predecessor (the foreach_batch_rollup
    idempotency discipline), so replays rebuild identical state.

    Domain: value_expr must be non-negative (bin() of a negative long
    is its 64-char two's complement in Spark, which would rank above
    every positive bucket) — shift or clamp signed measures before
    sketching, the same precondition the batch audit carries.
    State (``read_quantile_hist_state``): (g, b, c)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch_df.select(
                F.col(group_col).alias("g"),
                F.length(F.bin(F.expr(value_expr))).cast("long").alias("b"),
            )
            .groupBy("g", "b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        )
        if prev is None:
            return part
        return (
            prev.unionByName(part)
            .groupBy("g", "b")
            .agg(F.sum("c").cast("bigint").alias("c"))
        )

    return snapshot_sink(stream_df, out_dir, update)


read_quantile_hist_state = read_state


def quantile_hist_estimate(
    state_df: DataFrame, probs: tuple[float, ...] = (0.5, 0.9, 0.99)
) -> DataFrame:
    """Quantile point-queries over the accumulated histogram state:
    per group, the percentile-disc estimate 2^b - 1 of the first
    bucket whose cumulative count reaches rank ceil(p*n) — identical
    arithmetic to the batch audit, run over the <= #groups x 64-row
    state (the windows sort counters, never events)."""
    w_cum = (
        Window.partitionBy("g")
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("g")
    d = state_df.withColumn("cum", F.sum("c").over(w_cum)).withColumn(
        "n", F.sum("c").over(w_all)
    )
    names = [f"p{round(p * 100):d}" for p in probs]
    if len(set(names)) != len(names):
        raise ValueError(
            f"probs {probs} collide after percent rounding ({names}); "
            "choose probabilities at least one percent apart"
        )
    flags = [
        (F.col("cum") >= F.ceil(F.lit(p) * F.col("n"))).alias(f"_ok{i}")
        for i, p in enumerate(probs)
    ]
    d = d.select("g", "b", "n", *flags)
    aggs = [F.max("n").cast("bigint").alias("n")]
    for i, name in enumerate(names):
        aggs.append(
            F.expr(
                f"CAST(shiftleft(CAST(1 AS BIGINT), CAST(min(CASE WHEN "
                f"_ok{i} THEN b END) AS INT)) - 1 AS BIGINT)"
            ).alias(f"{name}_est")
        )
    return d.groupBy("g").agg(*aggs)


def vacuum_snapshot_state(spark, out_dir: str, keep_last: int = 2) -> dict:
    """Retire superseded snapshot-state versions — the sketch-state
    counterpart of the commit-log's manifest retention (VERDICT r10
    #6 closed the log; this closes the states): any state written by
    :func:`snapshot_sink` holds one SELF-CONTAINED ``_state_v{b}`` dir
    per micro-batch, each derived from its newest predecessor, so a
    long-running stream's directory grows one snapshot per batch
    forever while reads only ever touch the newest.
    Deleting all but the trailing ``keep_last`` changes no read and no
    future merge.

    Replay safety: only the newest version's batch id can ever be
    re-delivered (version b existing proves batch b ran, which proves
    batch b-1 committed its checkpoint), and a re-delivered batch b
    merges from the newest version strictly below b — i.e. from
    v_{b-1}, which must therefore SURVIVE the vacuum: ``keep_last``
    below 2 is REJECTED with ``ValueError`` (the newest version and
    its merge base must both survive). With keep_last=1 a
    crash between writing v_b and committing its checkpoint, followed
    by a vacuum, would leave the re-delivered batch no predecessor
    and silently rebuild state from that one micro-batch alone.
    NOT for the log-structured
    key-set state, whose reads compose across versions — that one
    folds via :func:`compact_keyset_state` instead. Deletion goes
    through the Hadoop FS API so local disk, HDFS, and object stores
    take the same path.
    """
    if keep_last < 2:
        raise ValueError(
            "keep_last must be >= 2: a re-delivered newest batch merges "
            "from its predecessor snapshot, which keep_last=1 would delete"
        )
    versions = _list_state_versions(spark, out_dir)
    drop = versions[:-keep_last] if len(versions) > keep_last else []
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for v in drop:
        p = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{_STATE_PREFIX}{v}")
        p.getFileSystem(conf).delete(p, True)
    return {"dropped": len(drop), "kept": versions[len(drop):]}


def foreach_batch_kmv(
    stream_df: DataFrame,
    out_dir: str,
    group_col: str = "event_type",
    element_expr: str = (
        "concat_ws(':', cast(user_id as string), "
        "cast(cast(ts as date) as string))"
    ),
    k: int = 64,
):
    """Streaming KMV theta-sketch state — the distinct-count member of
    the sketch-state family whose SET OPERATIONS stay exact to merge:
    per group, the k smallest 60-bit md5 values of the element
    expression (the same hash the batch ``kmv_set_ops_error`` audit
    prices). Merging two sketches = k smallest of their union —
    idempotent, commutative, associative — so micro-batch chopping and
    replay cannot change the state (the Bloom-bits argument, applied
    to an ordered set). Each micro-batch reduces to <= #groups x k
    rows before touching the previous snapshot; state is #groups x k
    longs regardless of stream volume.
    State (``read_kmv_state``): (g, h)."""

    from cve_manager_spark.functions.helpers import kmv_hash60

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        h = kmv_hash60(F.expr(element_expr))
        part = (
            batch_df.select(F.col(group_col).alias("g"), h.alias("h"))
            .distinct()
        )
        if prev is not None:
            part = prev.unionByName(part).distinct()
        w = Window.partitionBy("g").orderBy("h")
        return (
            part.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    return snapshot_sink(stream_df, out_dir, update)


read_kmv_state = read_state


def kmv_estimate(state_df: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count point-queries over the KMV state: per group,
    N-hat = (k-1) * 2^60 / theta_k, or the exact held count when the
    sketch is not full — identical arithmetic to the batch audit, run
    over the <= #groups x k-row state."""
    from cve_manager_spark.functions.helpers import kmv_nhat_sql

    agg = state_df.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("k_eff"),
        F.max("h").alias("theta"),
    )
    return agg.select(
        "g",
        F.expr(kmv_nhat_sql("k_eff", "theta", k)).alias("estimate"),
    )


def foreach_batch_join_view(
    stream_df: DataFrame,
    out_dir: str,
    facts_path: str,
    facts_key: str,
    dim_key: str,
    order_col: str,
    n_buckets: int = 16,
):
    """Incrementally maintained JOIN view — the IVM face plain
    aggregate merging cannot give (foreach_batch_rollup maintains
    aggregates; this maintains ``facts ⋈ dim`` under a stream of dim
    CDC upserts): each micro-batch reduces to its newest row per
    ``dim_key`` (``order_col`` breaks intra-batch ties — it must
    totally order updates per key, e.g. an update timestamp), joins
    ONLY that delta against the facts table, and rewrites ONLY the
    key-buckets the delta touches.

    Scale shape: the view is bucket-partitioned (``kb =
    crc32(dim_key) % n_buckets``) and LOG-STRUCTURED like the DAU key
    set — a version dir holds full content for only its touched
    buckets, reads compose per-bucket-newest (:func:`_overlay_compose`),
    so per-batch write cost is |touched buckets|, never |view|; a
    wide view is NOT rewritten per micro-batch. The delta join is
    |facts ⋈ delta-keys| (broadcast when small), never a view
    recompute. Replayed batches compose predecessors from versions <
    batch_id and rewrite their own version dir — idempotent,
    exactly-once effect like every snapshot sink here. An update only
    replaces view rows that are strictly OLDER by ``order_col`` (true
    MERGE semantics, not blind replace), so late or out-of-order CDC
    delivery and re-delivered batches are both no-ops against newer
    state. Facts and dim columns must be disjoint (TPC-H style
    prefixes); inner-join semantics, upsert-only CDC (no delete op —
    route deletes through the commit-log COW merge instead)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        delta = _newest_per_key(batch_df, [dim_key], [order_col]).withColumn(
            "kb", _ss_kb(dim_key, n_buckets)
        )
        touched = _touched(delta)
        if not touched:
            return
        prev = _overlay_compose(
            spark, out_dir, upto=batch_id, parts_filter=touched
        )
        if prev is not None:
            delta = _strictly_newer(delta, prev, dim_key, order_col)
        facts = spark.read.parquet(facts_path)
        joined = facts.join(delta, facts[facts_key] == delta[dim_key])
        _replace_keys(
            out_dir, prev, joined, delta.select(dim_key), dim_key, batch_id
        )

    return _start(stream_df, write_batch, f"{out_dir}/_checkpoint")


def read_join_view(spark, out_dir: str) -> DataFrame | None:
    """Current join view: per-bucket-newest composition, bucket column
    dropped."""
    df = _overlay_compose(spark, out_dir)
    return None if df is None else df.drop("kb")


def apply_facts_changes(
    spark,
    out_dir: str,
    changes_df: DataFrame,
    dim_df: DataFrame,
    fact_id: str,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
) -> dict:
    """Apply a FACTS-side change-data-feed to an incrementally
    maintained join view — the second side of IVM
    (:func:`foreach_batch_join_view` maintains the dim side; this
    consumes ``TableLog.changes(..., key_cols=[fact_id])`` from the
    commit-logged facts table, closing the CDF → IVM loop).

    Delta algebra: every view row whose ``fact_id`` appears in the
    changeset is dropped from its touched bucket, then the surviving
    images ('insert' + 'update_postimage') re-enter joined against the
    CURRENT dim relation — so updates are replace-by-id, deletes fall
    out, and re-applying the same changeset is IDEMPOTENT (the drop
    removes the rows the previous application added, the add puts the
    identical rows back). Buckets are touched through each change
    row's ``facts_key`` (pre- and post-images both carry it, so a
    key-reassigning update touches both its old and new bucket); cost
    is |changed rows| + |touched buckets|, never |view|. Writes one
    new log-structured version dir (latest + 1), read by the same
    per-bucket-newest composition as the dim-side sink."""
    return _apply_changes(
        spark, out_dir, changes_df, fact_id, facts_key, facts_key, n_buckets,
        lambda adds: adds.join(dim_df, adds[facts_key] == dim_df[dim_key]),
    )


def _apply_changes(
    spark, out_dir, changes_df, key, bucket_key, facts_key, n_buckets,
    join_adds,
) -> dict:
    """One change-data-feed step on a join view, shared by both sides:
    the view rows whose ``key`` the changeset names are dropped from the
    buckets of its ``bucket_key`` values, and the surviving images
    ('insert' + 'update_postimage'), joined by ``join_adds``, re-enter
    as the next version."""
    touched = _touched(
        changes_df.select(_ss_kb(bucket_key, n_buckets).alias("kb"))
    )
    if not touched:
        return {"version": None, "touched_buckets": 0}
    adds = changes_df.where(
        F.col("_change_type").isin("insert", "update_postimage")
    ).drop("_change_type", "_change_count")
    v = _replace_keys(
        out_dir,
        _overlay_compose(spark, out_dir, parts_filter=touched),
        join_adds(adds).withColumn("kb", _ss_kb(facts_key, n_buckets)),
        changes_df.select(key).distinct(),
        key,
    )
    return {"version": v, "touched_buckets": len(touched)}


def foreach_batch_heavy_hitters(
    stream_df: DataFrame,
    out_dir: str,
    key_expr: str = "cast(user_id as string)",
    k: int = 8,
):
    """Streaming Misra-Gries heavy-hitter summary — the mergeable
    frequency-SUMMARY state next to the CMS frequency SKETCH: at most
    ``k`` (key, count) counters whatever the stream volume, with the
    classic guarantees (Misra-Gries; merge rule from Agarwal et al.,
    "Mergeable summaries"): every key with true count > N/(k+1) is
    retained, and any counter undercounts by at most
    (N − sum(counters))/(k+1).

    Per micro-batch: exact per-key batch counts (one hash aggregate)
    merge into the state by SUM; if more than ``k`` keys survive, the
    (k+1)-th largest combined count is subtracted from every counter
    and non-positive ones are pruned — a deterministic set rule (no
    arbitrary tie-break row picks), so replays rebuild identical
    state. Unlike the CMS/Bloom/KMV states the SUMMARY ITSELF is not
    chop-invariant (merge order moves individual counters) — the
    GUARANTEES are what survive any chopping, so the tests assert
    containment + undercount bounds against exact counts, the HLL
    rows-only discipline. State carries ``n_total`` (items processed)
    so the bound is computable from the state alone.
    State (``read_heavy_hitters_state``): (key, c, n_total)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = (
            batch_df.select(F.expr(key_expr).alias("key"))
            .groupBy("key")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )
        n_batch = part.agg(F.sum("c")).head()[0] or 0
        n_prev = 0
        if prev is not None:
            n_prev = prev.agg(F.max("n_total")).head()[0] or 0
            part = (
                prev.select("key", "c")
                .unionByName(part)
                .groupBy("key")
                .agg(F.sum("c").cast("long").alias("c"))
            )
        n_keys = part.count()
        if n_keys > k:
            # deterministic decrement: subtract the (k+1)-th largest
            # combined count from every counter, prune the non-positive
            t = (
                part.orderBy(F.col("c").desc())
                .limit(k + 1)
                .agg(F.min("c"))
                .head()[0]
            )
            part = part.withColumn(
                "c", (F.col("c") - F.lit(t)).cast("long")
            ).where(F.col("c") > 0)
        return part.withColumn(
            "n_total", F.lit(int(n_prev) + int(n_batch)).cast("long")
        )

    return snapshot_sink(stream_df, out_dir, update)


read_heavy_hitters_state = read_state


def heavy_hitters_report(state_df: DataFrame, k: int = 8) -> DataFrame:
    """Candidates with their guarantee: estimate (lower bound on the
    true count) and the state-wide max undercount
    (n_total − sum(counters)) / (k+1), carried per row so a consumer
    can threshold on estimate + max_undercount."""
    tot = state_df.agg(
        F.max("n_total").alias("n_total"),
        F.sum("c").alias("sum_c"),
    )
    return state_df.drop("n_total").crossJoin(F.broadcast(tot)).select(
        "key",
        F.col("c").cast("long").alias("estimate"),
        F.expr(
            f"CAST((n_total - sum_c) div {k + 1} AS BIGINT)"
        ).alias("max_undercount"),
    )


def stream_cdf_tail(
    spark,
    log_root: str,
    cursor_path: str,
    out_dir: str,
    dim_path: str,
    fact_id: str,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
    max_versions_per_step: int = 1,
    trigger_available_now: bool = True,
    processing_interval: str = "1 second",
):
    """Self-driving CDC: a Structured Streaming query that TAILS the
    commit log's change data feed into the incrementally maintained
    join view — the continuous counterpart of the pull-based
    :meth:`TableLog.consume_changes` + :func:`apply_facts_changes`
    pair, closing the facts-side IVM loop without a caller poll.

    Each micro-batch drains the log version-by-version
    (``max_versions_per_step`` commits per span, default 1 — bounded
    work per step whatever the backlog): consume a span, join the
    surviving change images against the CURRENT dim relation, rewrite
    only the touched view buckets, then ACK the cursor. The apply runs
    BEFORE the ack, so a crash between them re-delivers the same span
    on restart (at-least-once); the applier is idempotent
    (drop-changed-ids-then-re-add), so the re-application converges to
    the identical view — exactly-once EFFECT, anchored in the cursor
    file, not in Spark's offset checkpoint. The tick stream (a rate
    source) is pure scheduling: its rows are ignored and its
    checkpoint is disposable (a fresh one is used per start), because
    all durable progress lives in the cursor + the log-structured view
    versions.

    With ``trigger_available_now`` (the default) one batch fires and
    drains the entire backlog to the current head, then the query
    terminates — the availableNow semantics of CDC. Otherwise the
    query polls every ``processing_interval`` and follows the log as
    writers commit.

    Retention interaction: a cursor older than the log's vacuum window
    raises through ``snapshot()`` inside the batch (the streaming
    query fails loudly) — the standard CDC-retention trade; size
    ``vacuum(keep_versions=...)`` to cover the longest consumer
    outage."""
    import uuid

    from cve_manager_spark.commitlog import TableLog

    def drain(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        log = TableLog(log_root)
        while True:
            res = log.consume_changes(
                sp,
                cursor_path,
                key_cols=[fact_id],
                max_versions=max_versions_per_step,
            )
            if res is None:
                return
            changes, ack = res
            apply_facts_changes(
                sp,
                out_dir,
                changes,
                sp.read.parquet(dim_path),
                fact_id,
                facts_key,
                dim_key,
                n_buckets=n_buckets,
            )
            ack()

    ticks = (
        spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    )
    writer = ticks.writeStream.foreachBatch(drain).option(
        "checkpointLocation",
        f"{out_dir}/_cdf_ticks/{uuid.uuid4().hex}",
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_interval)
    return writer.start()


# ---------------------------------------------------------------------------
# two-stream join view: fact stream x dim stream
# ---------------------------------------------------------------------------


class _StateLock:
    """Cross-query mutex for state shared by TWO live streaming queries
    on one host (the fact-side and dim-side sinks of the two-stream
    join): O_CREAT|O_EXCL lockfile, stolen after ``stale_s`` seconds so
    a crashed batch cannot deadlock the partner query forever. This is
    HOST-LOCAL serialization — two writers on different hosts must
    route through the commit-log protocol instead (its put-if-absent
    publish is the distributed version of exactly this)."""

    def __init__(self, out_dir: str, stale_s: float = 300.0):
        import pathlib

        self.path = pathlib.Path(out_dir) / "_ss_lock"
        self.stale_s = stale_s

    def __enter__(self):
        import os
        import time

        self.path.parent.mkdir(parents=True, exist_ok=True)
        while True:
            try:
                self._fd = os.open(
                    self.path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                return self
            except FileExistsError:
                try:
                    age = time.time() - self.path.stat().st_mtime
                    if age > self.stale_s:
                        self.path.unlink(missing_ok=True)
                        continue
                except OSError:
                    continue
                time.sleep(0.05)

    def __exit__(self, *exc):
        import os

        os.close(self._fd)
        self.path.unlink(missing_ok=True)
        return False


def _ss_read_watermark(out_dir: str):
    import json as _json
    import pathlib

    p = pathlib.Path(out_dir) / "_watermark.json"
    if not p.exists():
        return None
    return _json.loads(p.read_text())["hw"]


def _ss_write_watermark(out_dir: str, hw) -> None:
    import json as _json
    import os
    import pathlib
    import uuid as _uuid

    p = pathlib.Path(out_dir) / "_watermark.json"
    tmp = p.parent / f".wm-{_uuid.uuid4().hex[:8]}"
    tmp.write_text(_json.dumps({"hw": hw}))
    os.replace(tmp, p)


def foreach_batch_ss_facts(
    stream_df: DataFrame,
    out_dir: str,
    fact_id: str,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
):
    """Fact side of the TWO-STREAM join view (fact stream ⋈ dim stream
    — the variant :func:`foreach_batch_join_view` cannot give, whose
    facts are a static table). Facts are INSERT-ONLY events; each
    micro-batch (a) drops rows whose ``fact_id`` the accumulated facts
    state already holds — the idempotency that makes replayed and
    re-delivered batches no-ops, (b) appends the survivors to the
    bucket-partitioned facts state (``kb = crc32(facts_key) %
    n_buckets`` — the JOIN key's bucketing, shared with the dim and
    view states, so every delta prunes its probe to touched buckets),
    and (c) joins them against the CURRENT dim state to extend the
    view. A fact arriving BEFORE its dim row waits in the facts state:
    the dim side joins its delta against accumulated facts, so the
    pair enters the view whichever side arrives first (inner-join
    semantics; the final view converges to facts ⋈ newest-dim under
    ANY interleaving of the two streams' batches).

    Both sinks serialize on a host-local :class:`_StateLock` — two
    LIVE queries' read-compute-write cycles interleave arbitrarily but
    never overlap, which makes convergence compositional: every batch
    sees a consistent (facts, dim, view) triple. Scale shape: per
    batch cost is |batch| + |touched buckets|, never |state|; all
    three states are log-structured partition overlays, and the fact
    and dim columns must be disjoint (TPC-H prefixes).

    Crash safety (r12 ADVICE): a batch performs two non-atomic writes
    (facts state, then view). Replay therefore derives each write's
    delta INDEPENDENTLY from what that target is missing — the state
    delta is the batch minus the facts state, the view extension is
    the batch minus the VIEW (joined against current dim) — so a crash
    between the two writes replays into a state no-op plus exactly the
    missing view rows, and a fully-applied replay is a no-op on both.
    The view is never keyed on the state delta, which is empty on
    replay precisely when the view write is the one that was lost."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # the batch's pinned deltas (localCheckpoint below) are dead once
        # this batch's writes complete — free them at scope exit instead
        # of accreting one pinned delta per micro-batch until a driver GC.
        # Ids are captured from each pinned DataFrame itself (r15,
        # ADVICE r14): a global before/after diff would grab a concurrent
        # query's blocks on a shared session.
        with _StateLock(out_dir), _scoped_checkpoint_ids(spark) as _pins:
            fdir = f"{out_dir}/facts_state"
            ddir = f"{out_dir}/dim_state"
            vdir = f"{out_dir}/view"
            fb0 = batch_df.withColumn("kb", _ss_kb(facts_key, n_buckets))
            touched = _touched(fb0)
            if not touched:
                return
            prev_facts = _overlay_compose(
                spark, fdir, parts_filter=touched, union=True
            )
            new_facts = fb0
            if prev_facts is not None:
                new_facts = fb0.join(
                    prev_facts.select(fact_id), on=fact_id, how="left_anti"
                )
            # pin the state delta NOW: it is defined against pre-batch
            # state, and the write below must not recompute it against
            # itself (the anti-join would otherwise erase the batch)
            new_facts = new_facts.localCheckpoint(eager=True)
            _pins |= _checkpoint_rdd_ids(new_facts)
            if not new_facts.isEmpty():
                _write_version(new_facts, fdir)
            dim_cur = _overlay_compose(spark, ddir, parts_filter=touched)
            if dim_cur is None:
                return  # no dim rows yet: the facts wait in state
            prev_view = _overlay_compose(spark, vdir, parts_filter=touched)
            cand = fb0
            if prev_view is not None:
                cand = fb0.join(
                    prev_view.select(fact_id), on=fact_id, how="left_anti"
                )
            add = cand.drop("kb").join(
                dim_cur.drop("kb"), F.col(facts_key) == F.col(dim_key)
            ).withColumn("kb", _ss_kb(facts_key, n_buckets))
            add = add.localCheckpoint(eager=True)
            _pins |= _checkpoint_rdd_ids(add)
            if add.isEmpty():
                return  # nothing the view is missing: replay no-op
            _write_version(
                add if prev_view is None else prev_view.unionByName(add), vdir
            )

    return _start(stream_df, apply, f"{out_dir}/_checkpoint_facts")


def foreach_batch_ss_dim(
    stream_df: DataFrame,
    out_dir: str,
    facts_key: str,
    dim_key: str,
    order_col: str,
    n_buckets: int = 16,
    watermark_delay: int | None = None,
):
    """Dim side of the two-stream join view: a stream of CDC upserts
    with WATERMARK-BOUNDED REORDERING. Each micro-batch reduces to its
    newest row per ``dim_key`` (``order_col`` totally orders updates),
    then true-MERGE filters against the dim state — an update only
    beats a STRICTLY older image, so out-of-order delivery within the
    watermark and re-delivered batches are no-ops (the same
    convergence rule as :func:`foreach_batch_join_view`). With
    ``watermark_delay`` set, a row whose ``order_col`` trails the
    high-watermark (max event order ever accepted, tracked O(1) in
    ``_watermark.json``) by MORE than the delay is DROPPED — the
    late-data-drop contract of the streaming window family applied to
    CDC: reordering is bounded, state need never answer for
    arbitrarily ancient updates, and the drop is deterministic and
    testable rather than dependent on state-compaction timing.

    Surviving updates rewrite their touched dim buckets and REJOIN the
    accumulated facts for exactly those keys: view rows carrying a
    replaced dim image are dropped and rebuilt from facts ⋈ new-image
    — cost |delta| + |touched buckets|, never |view|.

    Crash safety (r12 ADVICE): the batch's writes are dim state, then
    view, then watermark — and replay must repair whichever suffix was
    lost. The view rebuild is keyed on the batch's KEYS against the
    CURRENT merged images, not on the strictly-newer delta (which is
    empty on replay exactly when the state write survived and the view
    write didn't): a replayed batch finds its keys' images already in
    state and rebuilds the stale view rows from them. The watermark is
    persisted LAST, so a crash before it re-offers late rows instead
    of dropping rows that were never applied."""

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # free this batch's pinned delta blocks at scope exit (see the
        # facts-side sink above)
        with _StateLock(out_dir), _scoped_checkpoint_ids(spark) as _pins:
            fdir = f"{out_dir}/facts_state"
            ddir = f"{out_dir}/dim_state"
            vdir = f"{out_dir}/view"
            delta0 = _newest_per_key(batch_df, [dim_key], [order_col])
            hw = _ss_read_watermark(out_dir)
            if watermark_delay is not None and hw is not None:
                delta0 = delta0.where(
                    F.col(order_col) >= F.lit(hw - watermark_delay)
                )
            delta0 = delta0.withColumn("kb", _ss_kb(dim_key, n_buckets))
            touched = _touched(delta0)
            if not touched:
                return
            prev_dim = _overlay_compose(spark, ddir, parts_filter=touched)
            delta_new = delta0
            if prev_dim is not None:
                delta_new = _strictly_newer(delta0, prev_dim, dim_key, order_col)
            delta_new = delta_new.localCheckpoint(eager=True)  # pin
            _pins |= _checkpoint_rdd_ids(delta_new)
            applied = not delta_new.isEmpty()
            if applied:
                _replace_keys(
                    ddir, prev_dim, delta_new, delta_new.select(dim_key), dim_key
                )
            # current image per batch key = strictly-newer delta over
            # the pre-batch state restricted to the batch's keys
            keys0 = delta0.select(dim_key).distinct()
            if applied and prev_dim is not None:
                img = (
                    prev_dim.join(keys0, dim_key, "left_semi")
                    .join(
                        delta_new.select(dim_key), dim_key, "left_anti"
                    )
                    .unionByName(delta_new)
                )
            elif applied:
                img = delta_new
            elif prev_dim is not None:
                img = prev_dim.join(keys0, dim_key, "left_semi")
            else:
                return  # no images anywhere for these keys
            prev_view = _overlay_compose(spark, vdir, parts_filter=touched)
            if applied:
                rebuild_keys = keys0
            else:
                # pure replay/stale batch: rebuild only keys whose view
                # rows trail the state image (the lost-view-write gap);
                # none stale → full no-op, no version dir written
                rebuild_keys = img.select(dim_key)
                if prev_view is not None:
                    rebuild_keys = _strictly_newer(
                        img, prev_view, dim_key, order_col
                    ).select(dim_key)
                if rebuild_keys.isEmpty():
                    return
            img_r = img.join(rebuild_keys, dim_key, "left_semi")
            facts_rel = _overlay_compose(
                spark, fdir, parts_filter=touched, union=True
            )
            rebuilt = None
            if facts_rel is not None:
                rebuilt = facts_rel.drop("kb").join(
                    img_r.drop("kb"), F.col(facts_key) == F.col(dim_key)
                ).withColumn("kb", _ss_kb(facts_key, n_buckets))
            _replace_keys(vdir, prev_view, rebuilt, rebuild_keys, dim_key)
            if applied:
                # watermark LAST: it must never claim an order the
                # state/view writes did not survive to reflect
                batch_max, = delta_new.agg(F.max(order_col)).head()
                _ss_write_watermark(
                    out_dir,
                    batch_max if hw is None else max(hw, batch_max),
                )

    return _start(stream_df, apply, f"{out_dir}/_checkpoint_dim")


def read_stream_stream_join(spark, out_dir: str) -> DataFrame | None:
    """Current two-stream join view: :func:`read_join_view` over the
    ``view`` state under ``out_dir``."""
    return read_join_view(spark, f"{out_dir}/view")


# ---------------------------------------------------------------------------
# bottom-k sample state: the distributed reservoir
# ---------------------------------------------------------------------------


def foreach_batch_bottomk_sample(
    stream_df: DataFrame,
    out_dir: str,
    id_expr: str = "cast(event_id as string)",
    payload_cols: tuple[str, ...] = ("event_type", "value"),
    k: int = 64,
):
    """Streaming BOTTOM-K SAMPLE state — the distributed reservoir, and
    the seventh member of the sketch-state family (CMS, Bloom,
    occupancy, quantile-hist, KMV, Misra-Gries, this): keep the k rows
    whose md5(id) digests are smallest, payload attached. Because the
    sample is keyed on a deterministic hash rather than an RNG, it IS
    a mergeable sketch: merging two states = bottom-k of their union —
    idempotent, commutative, associative — so micro-batch chopping,
    replay, and arbitrary merge trees all converge to the one sample
    the batch engine computes (``hash_sample_quantile_error`` prices
    exactly this estimator family's accuracy). Classic reservoir
    sampling (Vitter's R) is sequential and order-dependent — useless
    across executors; the bottom-k-by-hash formulation is the standard
    distributed replacement and costs one TakeOrderedAndProject per
    micro-batch over ≤ |batch| + k rows. State is k rows whatever the
    stream volume; compatible with :func:`vacuum_snapshot_state`.
    State (``read_bottomk_sample_state``): (d, id, *payload)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.select(
            F.md5(F.expr(id_expr)).alias("d"),
            F.expr(id_expr).alias("id"),
            *[F.col(c) for c in payload_cols],
        ).dropDuplicates(["d"])
        if prev is not None:
            part = prev.unionByName(part).dropDuplicates(["d"])
        return part.orderBy("d").limit(k)

    return snapshot_sink(stream_df, out_dir, update)


read_bottomk_sample_state = read_state


def foreach_batch_bottomk_stratified(
    stream_df: DataFrame,
    out_dir: str,
    group_expr: str = "event_type",
    id_expr: str = "cast(event_id as string)",
    payload_cols: tuple[str, ...] = ("value",),
    k: int = 16,
):
    """STRATIFIED bottom-k sample state — the eighth sketch state
    (after CMS, Bloom, occupancy, quantile-hist, KMV, Misra-Gries and
    the global bottom-k): one k-smallest-md5 reservoir PER GROUP, so a
    skewed stream cannot starve rare strata of sample mass — the
    training-data need the global reservoir cannot meet (a 99%-english
    corpus yields a 99%-english sample; per-language strata keep k
    docs of every language seen).

    Merge law: per-group bottom-k of the union — idempotent,
    commutative, associative per stratum, so micro-batch chopping,
    replay, and arbitrary merge trees converge to the one sample the
    batch engine computes over the whole table (the oracle-paired
    ``sample_bottomk_stratified`` face is exactly that batch twin).
    State is ≤ k × |groups| rows whatever the stream volume; the
    per-batch trim is a window rank partitioned on the group key —
    never a global sort — and the state read joins nothing. Snapshot
    discipline (full state per version dir keyed on batch_id,
    replay-idempotent) and :func:`vacuum_snapshot_state` compatibility
    are shared with every sketch state here.
    State (``read_bottomk_stratified_state``): (grp, d, id, *payload)."""

    def update(batch_df: DataFrame, prev: DataFrame | None) -> DataFrame:
        part = batch_df.select(
            F.expr(group_expr).alias("grp"),
            F.md5(F.expr(id_expr)).alias("d"),
            F.expr(id_expr).alias("id"),
            *[F.col(c) for c in payload_cols],
        ).dropDuplicates(["grp", "d"])
        if prev is not None:
            part = prev.unionByName(part).dropDuplicates(["grp", "d"])
        w = Window.partitionBy("grp").orderBy("d")
        return (
            part.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn")
        )

    return snapshot_sink(stream_df, out_dir, update)


read_bottomk_stratified_state = read_state


# ---------------------------------------------------------------------------
# two-LOG join view: both sides commit-logged, synced from their CDFs
# ---------------------------------------------------------------------------


def apply_dim_changes(
    spark,
    out_dir: str,
    changes_df: DataFrame,
    facts_df: DataFrame,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
) -> dict:
    """Apply a DIM-side change-data-feed to the maintained join view —
    the mirror of :func:`apply_facts_changes`: every view row whose
    ``dim_key`` appears in the changeset is dropped from its touched
    bucket, then the CURRENT facts re-enter joined against the
    surviving dim images ('insert' + 'update_postimage'); a deleted
    dim row therefore takes its joined facts out of the view (inner
    join), an updated one replaces their dim columns, and re-applying
    the same changeset is idempotent. Cost: |changed dim rows ⋈ facts|
    + |touched buckets|, never |view|."""
    return _apply_changes(
        spark, out_dir, changes_df, dim_key, dim_key, facts_key, n_buckets,
        lambda adds: facts_df.join(adds, facts_df[facts_key] == adds[dim_key]),
    )


def bootstrap_join_view(
    spark,
    out_dir: str,
    facts_log,
    dim_log,
    facts_cursor: str,
    dim_cursor: str,
    fact_id: str,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
) -> dict:
    """Bootstrap the two-LOG join view: pin BOTH logs' current
    versions, materialize facts ⋈ dim at exactly that pair as view
    version 0, and park each cursor at its pinned version — so the
    first :func:`sync_join_view` consumes only commits the bootstrap
    did not see. The pin order is safe because ``consume_changes``
    persists an explicit ``start_version`` pin BEFORE returning any
    changes (r13): even when commits land on either log between
    ``snapshot()`` and the park call, the cursor durably records the
    snapshot the view actually embodies, and the first sync picks the
    in-between commits up (at-least-once, absorbed by the idempotent
    appliers) instead of skipping them."""
    vf, _ = facts_log.snapshot()
    vd, _ = dim_log.snapshot()
    facts = facts_log.read(spark, version=vf)
    dim = dim_log.read(spark, version=vd)
    view = facts.join(
        dim, facts[facts_key] == dim[dim_key]
    ).withColumn("kb", _ss_kb(facts_key, n_buckets))
    if _next_version(spark, out_dir) > 0:
        raise ValueError(f"join view already exists under {out_dir}")
    _write_version(view, out_dir)
    # park both cursors at the pinned versions (consume-nothing inits)
    facts_log.consume_changes(spark, facts_cursor, start_version=vf)
    dim_log.consume_changes(spark, dim_cursor, start_version=vd)
    return {"facts_version": vf, "dim_version": vd}


def sync_join_view(
    spark,
    out_dir: str,
    facts_log,
    dim_log,
    facts_cursor: str,
    dim_cursor: str,
    fact_id: str,
    facts_key: str,
    dim_key: str,
    n_buckets: int = 16,
    max_versions: int | None = None,
) -> dict:
    """Drain BOTH commit logs' change data feeds into the join view —
    the fully self-syncing two-LOG IVM: facts and dim are each
    ordinary commit-logged tables (merge/delete/append at will), and
    one maintenance call brings the view to facts⋈dim at the two
    current heads. Dim spans apply first (each rebuilds its touched
    keys against CURRENT facts), then facts spans (each joins its
    surviving images against CURRENT dim); the order is safe because
    every applier drops-then-readds by its own key — a row reached
    early through the other side's rebuild is dropped and re-added
    exactly once, so any interleaving of commits on the two logs
    converges. Each span acks only after its apply (at-least-once →
    exactly-once effect through idempotent appliers); a crash mid-sync
    resumes from the cursors."""
    applied = {"dim_spans": 0, "facts_spans": 0}
    while True:
        res = dim_log.consume_changes(
            spark, dim_cursor, key_cols=[dim_key],
            max_versions=max_versions,
        )
        if res is None:
            break
        ch, ack = res
        apply_dim_changes(
            spark, out_dir, ch, facts_log.read(spark),
            facts_key, dim_key, n_buckets=n_buckets,
        )
        ack()
        applied["dim_spans"] += 1
    while True:
        res = facts_log.consume_changes(
            spark, facts_cursor, key_cols=[fact_id],
            max_versions=max_versions,
        )
        if res is None:
            break
        ch, ack = res
        apply_facts_changes(
            spark, out_dir, ch, dim_log.read(spark),
            fact_id, facts_key, dim_key, n_buckets=n_buckets,
        )
        ack()
        applied["facts_spans"] += 1
    return applied
