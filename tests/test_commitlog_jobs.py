"""Commit-log DML: the staged-row guards still bite, the duplicate-key
refusal and the no-match merge keep their semantics, and each op runs
no more Spark jobs than its one scan and its writes need.

The staged-row checks count rows from the parquet footers of the files
an op just wrote, and ``merge_upsert_mor`` takes its match count from an
``Observation`` on the position write. The guard tests lose one staged
file behind the op's back and expect the op to refuse to commit and to
clean up after itself.
"""

from __future__ import annotations

import json
import logging

import pytest
from pyspark.sql import functions as F

from cve_manager_spark.commitlog import CommitConflict, TableLog

_SCHEMA = "k long, part int, v long"


def _mk(spark, tmp_path, name="t", deletes=True) -> TableLog:
    """A 600-row, 4-file table whose manifest records its schema (as a
    streaming table's does after its first append), with live deletion
    vectors on 60 rows unless ``deletes`` is False."""
    df = spark.range(0, 600).select(
        F.col("id").alias("k"),
        (F.col("id") % 3).cast("int").alias("part"),
        (F.col("id") * 7).alias("v"),
    )
    path = tmp_path / name
    df.limit(0).coalesce(1).write.parquet(str(path))
    log = TableLog(str(path))
    log.init()
    log.append(spark, df.repartition(4, "k"))
    if deletes:
        log.delete_where_mor(spark, "k % 10 = 0")
    return log


def _upd(spark, keys):
    return spark.createDataFrame([(k, 0, -k) for k in keys], _SCHEMA)


def _manifest(log: TableLog) -> dict:
    v = log.latest_version()
    with open(log.root / "_commits" / f"v{v:012d}.json") as f:
        return json.load(f)


def _on_disk(log: TableLog) -> set[str]:
    """Every file under the table root and every staging dir beside it."""
    return {
        str(p.relative_to(log.root.parent))
        for p in log.root.parent.rglob("*")
        if p.is_file() and "_commits" not in p.parts
    }


def _lose_one(method):
    """Wrap a staging method so the first file it wrote vanishes."""

    def staged(self, *args, **kwargs):
        rel = method(self, *args, **kwargs)
        (self.root / rel[0]).unlink()
        return rel

    return staged


_OPS = {
    "merge_upsert_mor": lambda spark, log: log.merge_upsert_mor(
        spark, _upd(spark, range(500, 700)), ["k"]
    ),
    "delete_where_mor": lambda spark, log: log.delete_where_mor(
        spark, "k % 10 = 1"
    ),
    "append": lambda spark, log: log.append(
        spark, _upd(spark, range(1000, 1100))
    ),
    "compact": lambda spark, log: log.compact(spark, 250),
    "overwrite": lambda spark, log: log.overwrite(
        spark, _upd(spark, range(0, 50))
    ),
    "delete_where": lambda spark, log: log.delete_where(spark, "k % 10 = 3"),
    "merge_upsert": lambda spark, log: log.merge_upsert(
        spark, _upd(spark, range(500, 700)), ["k"]
    ),
    "update_where_mor": lambda spark, log: log.update_where_mor(
        spark, "k % 10 = 2", {"v": "v + 1"}
    ),
    "consolidate_deletes": lambda spark, log: log.consolidate_deletes(spark),
    "zorder": lambda spark, log: log.zorder(spark, ["v"], 250, bits_per_col=2),
    "merge_upsert_mor_empty": lambda spark, log: log.merge_upsert_mor(
        spark, _upd(spark, range(500, 700)), ["k"]
    ),
}


def _truncate(spark, log):
    """Commit an empty file list under the table's schema."""
    m = _manifest(log)
    log._publish(log.latest_version(), [], "truncate", schema=m["schema"],
                 dv=None)


# state an op needs before it stages anything: a second delete file to
# consolidate, an empty table for the merge's insert-only branch
_SETUP = {
    "consolidate_deletes": lambda spark, log: log.delete_where_mor(
        spark, "k % 10 = 5"
    ),
    "merge_upsert_mor_empty": _truncate,
}


@pytest.mark.parametrize(
    "op,stage",
    [
        ("merge_upsert_mor", "_stage"),
        ("merge_upsert_mor", "_stage_dv"),
        ("delete_where_mor", "_stage_dv"),
        ("append", "_stage"),
        ("compact", "_stage"),
        ("overwrite", "_stage"),
        ("delete_where", "_stage"),
        ("merge_upsert", "_stage"),
        ("update_where_mor", "_stage"),
        ("update_where_mor", "_stage_dv"),
        ("consolidate_deletes", "_stage_dv"),
        ("zorder", "_stage"),
        ("merge_upsert_mor_empty", "_stage"),
    ],
)
def test_lost_staged_file_is_a_row_mismatch(
    spark, tmp_path, monkeypatch, op, stage
):
    log = _mk(spark, tmp_path)
    _SETUP.get(op, lambda spark, log: None)(spark, log)
    version, files_before = log.latest_version(), _on_disk(log)
    monkeypatch.setattr(TableLog, stage, _lose_one(getattr(TableLog, stage)))
    with pytest.raises(RuntimeError, match="row mismatch"):
        _OPS[op](spark, log)
    assert log.latest_version() == version
    assert _on_disk(log) == files_before


@pytest.mark.parametrize(
    "op",
    [
        "overwrite",
        "delete_where",
        "merge_upsert",
        "merge_upsert_mor",
        "merge_upsert_mor_empty",
        "update_where_mor",
        "delete_where_mor",
        "consolidate_deletes",
        "compact",
        "zorder",
    ],
)
def test_lost_publish_race_leaves_nothing_staged(
    spark, tmp_path, monkeypatch, op
):
    """Every staging op that loses its publish removes all it staged."""
    log = _mk(spark, tmp_path)
    _SETUP.get(op, lambda spark, log: None)(spark, log)
    version, files_before = log.latest_version(), _on_disk(log)

    def taken(self, parent, files, op, **manifest):
        raise CommitConflict(f"v{parent + 1} was committed by another writer")

    monkeypatch.setattr(TableLog, "_publish", taken)
    with pytest.raises(CommitConflict, match="another writer"):
        _OPS[op](spark, log)
    assert log.latest_version() == version
    assert _on_disk(log) == files_before


@pytest.mark.parametrize("op", ["merge_upsert", "merge_upsert_mor"])
def test_two_null_keys_are_duplicates(spark, tmp_path, op):
    log = _mk(spark, tmp_path)
    version = log.latest_version()
    upd = spark.createDataFrame([(None, 0, 1), (None, 0, 2)], _SCHEMA)
    with pytest.raises(ValueError, match=f"{op}: duplicate keys"):
        getattr(log, op)(spark, upd, ["k"])
    assert log.latest_version() == version


def test_merge_of_new_keys_leaves_deletes_untouched(spark, tmp_path):
    log = _mk(spark, tmp_path)
    dv_before = _manifest(log)["dv"]
    deletes_before = sorted(p.name for p in (log.root / "_deletes").iterdir())
    out = log.merge_upsert_mor(spark, _upd(spark, range(5000, 5050)), ["k"])
    assert (out["n_matched"], out["n_inserted"]) == (0, 50)
    assert _manifest(log)["dv"] == dv_before
    assert sorted(
        p.name for p in (log.root / "_deletes").iterdir()
    ) == deletes_before


def test_merge_on_dv_table_keeps_row_count_exact(spark, tmp_path):
    log = _mk(spark, tmp_path)
    # 500..699: 90 live matches (500..599 minus the ten DV'd keys) and
    # 110 inserts (600..699 plus those ten: a DV'd key inserts)
    out = log.merge_upsert_mor(spark, _upd(spark, range(500, 700)), ["k"])
    assert (out["n_matched"], out["n_inserted"]) == (90, 110)
    assert log.row_count() == log.read(spark).count() == 540 + 110
    assert log.read(spark).where("k = 500").first()["v"] == -500


def test_skipped_sidecar_is_logged_not_fatal(
    spark, tmp_path, monkeypatch, caplog
):
    from cve_manager_spark import commitlog

    log = _mk(spark, tmp_path)

    def broken(self, *args, **kwargs):
        raise OSError("sidecar unwritable")

    monkeypatch.setattr(commitlog._ZoneMaps, "rows_for", broken)
    with caplog.at_level(logging.WARNING, logger=commitlog.__name__):
        out = log.append(spark, _upd(spark, range(2000, 2010)))
    assert out["n_appended"] == 10
    assert "zone-map sidecar skipped" in caplog.text
    assert "sidecar unwritable" in caplog.text


def test_dml_job_counts(spark, tmp_path):
    """Spark jobs per op on a table that already carries deletion
    vectors. Before staged-row counts came from footers, the duplicate-
    key check was one aggregate and the merge's match count an
    Observation, the same ops ran: merge 27, delete_where_mor 13,
    append 7, compact 10, read().count() 4. The copy-on-write
    ``delete_where`` and ``merge_upsert`` run on a table without
    deletion vectors."""
    sc = spark.sparkContext
    log = _mk(spark, tmp_path)

    def jobs(name, fn) -> int:
        group = f"commitlog-jobs-{name}"
        sc.setJobGroup(group, name)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return len(sc.statusTracker().getJobIdsForGroup(group))

    got = {
        "merge_upsert_mor": jobs(
            "merge", lambda: _OPS["merge_upsert_mor"](spark, log)
        ),
        "delete_where_mor": jobs(
            "delete", lambda: _OPS["delete_where_mor"](spark, log)
        ),
        "append": jobs("append", lambda: _OPS["append"](spark, log)),
        "read": jobs("read", lambda: log.read(spark).count()),
        "compact": jobs("compact", lambda: _OPS["compact"](spark, log)),
    }
    plain = _mk(spark, tmp_path, "plain", deletes=False)
    for op in ("delete_where", "merge_upsert"):
        got[op] = jobs(f"cow-{op}", lambda: _OPS[op](spark, plain))
    bounds = {"merge_upsert_mor": 10, "delete_where_mor": 8, "append": 4,
              "read": 3, "compact": 6, "delete_where": 5,
              "merge_upsert": 10}
    assert all(got[op] <= n for op, n in bounds.items()), got
