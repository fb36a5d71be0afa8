"""Deterministic cleanup of dead localCheckpoint/persist blocks.

ContextCleaner only reclaims out-of-scope RDD blocks when a driver GC
happens to run (the periodic-GC safety net in session.STATIC_CONF bounds
the lag to minutes), so operators that checkpoint per round/per batch
otherwise hold every superseded generation's blocks — storage that
competes with execution memory (optimization guide §5) and, measured
locally, inflates whatever queries run next. These helpers let an
operator free blocks the moment they are provably dead.

An unpersisted local checkpoint is unrecoverable BY DESIGN: re-reading
it fails loudly (CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND), never silently
recomputes stale data — so a wrong id set is a crash, not a wrong
answer.

r15 (ADVICE r14): ids are captured from the specific checkpointed
DataFrame's own plan (:func:`checkpoint_rdd_ids`) rather than global
before/after set-diffs — under concurrent queries on one SparkSession a
global diff captured ANOTHER query's checkpoint/persist ids, and
freeing those crashes that query (checkpoint) or silently recomputes it
(persist). All helpers are Spark-Connect-safe: with no JVM
SparkContext handle they degrade to no-ops (cleanup skipped, semantics
unchanged), mirroring tune()'s Connect fallback, and each warns once
per process that it did.
"""

from __future__ import annotations

import logging
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession

from cve_manager_spark.session import warn_once

_log = logging.getLogger(__name__)


def checkpoint_rdd_ids(df: DataFrame) -> set[int]:
    """Id of the RDD backing a localCheckpoint'd DataFrame, read from
    its OWN analyzed plan (a ``LogicalRDD`` wrapping the checkpointed
    RDD — present for both eager and lazy local checkpoints, registered
    persistent at call time). Scoped to the DataFrame, so concurrent
    queries on the session can never leak into the captured set.
    Returns the empty set on Spark Connect (no JVM plan handle) or for
    a DataFrame whose plan is not a checkpoint — callers treat that as
    "nothing to free"."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith(".LogicalRDD"):
            return {int(plan.rdd().id())}
    except Exception:
        warn_once(
            _log, "checkpoint_rdd_ids",
            "no JVM plan handle (Spark Connect?): checkpoint blocks are "
            "not tracked for cleanup", exc_info=True,
        )
    return set()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of every RDD currently marked persistent (registered at
    persist/localCheckpoint call time, before materialization). Empty
    on Spark Connect (no SparkContext handle). Prefer
    :func:`checkpoint_rdd_ids` for cleanup bookkeeping — this global
    view is for leak probes/tests, where a superset is the point."""
    try:
        jsc = spark.sparkContext._jsc
    except Exception:
        warn_once(
            _log, "persistent_rdd_ids",
            "no SparkContext handle (Spark Connect?): persistent RDDs "
            "cannot be listed", exc_info=True,
        )
        return set()
    return {int(i) for i in jsc.getPersistentRDDs().keySet().toArray()}


def unpersist_rdd_ids(spark: SparkSession, ids: set[int]) -> None:
    """Free the blocks of the given persistent RDD ids (non-blocking).

    Callers may only pass ids whose data no live DataFrame can ever
    re-read — superseded iteration state, or scope-local pins whose
    consumers have all completed. No-op on Spark Connect.
    """
    if not ids:
        return
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
    except Exception:
        warn_once(
            _log, "unpersist_rdd_ids",
            "no SparkContext handle (Spark Connect?): block cleanup "
            "skipped", exc_info=True,
        )
        return
    for i in ids:
        rdd = jmap.get(i)
        if rdd is not None:
            rdd.unpersist(False)


@contextmanager
def scoped_checkpoint_ids(spark: SparkSession) -> Iterator[set[int]]:
    """Collect checkpoint ids into the yielded set; free them on exit.

    For code whose checkpoints are pins local to the scope (a streaming
    micro-batch's delta, pinned before a state write and dead once the
    batch's writes complete): the caller adds each pin's
    :func:`checkpoint_rdd_ids` to the yielded set, and everything
    collected is unpersisted on exit, success or raise. Unlike a global
    before/after diff, ids never include another concurrent query's
    blocks."""
    ids: set[int] = set()
    try:
        yield ids
    finally:
        unpersist_rdd_ids(spark, ids)
