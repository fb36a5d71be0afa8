"""The shared snapshot sink: replay idempotency for every state written
through ``snapshot_sink``, and a structural guard that keeps the stream
start and the snapshot-version bookkeeping in the shared helpers."""

from __future__ import annotations

import ast
import os
import shutil
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from cve_manager_spark.sources.testdata import load_table
from tests.conftest import SF_SMALL

STREAMING = Path(__file__).resolve().parent.parent / "cve_manager_spark" / "streaming"

N_FILES = 3


def _chop(df, src: Path, order_col: str) -> str:
    """Write ``df`` as N_FILES single-file drops, ascending by
    ``order_col`` with ascending mtimes, so a file source with
    maxFilesPerTrigger=1 replays them as N_FILES ordered micro-batches."""
    ids = sorted(r[0] for r in df.select(order_col).collect())
    cuts = [ids[(i + 1) * len(ids) // N_FILES] for i in range(N_FILES - 1)]
    bounds = [ids[0]] + cuts + [ids[-1] + 1]
    src.mkdir()
    for i in range(N_FILES):
        part = df.where(
            (F.col(order_col) >= bounds[i]) & (F.col(order_col) < bounds[i + 1])
        )
        scratch = src.parent / f"{src.name}_scratch{i}"
        part.coalesce(1).write.parquet(str(scratch))
        dest = src / f"b{i}.parquet"
        shutil.move(str(next(scratch.glob("*.parquet"))), str(dest))
        shutil.rmtree(scratch)
        os.utime(dest, (1_000_000 + i, 1_000_000 + i))
    return str(src)


@pytest.fixture(scope="module")
def sources(spark, tmp_path_factory):
    """Events and embeddings, each chopped into N_FILES ordered drops,
    plus the frozen drift artifact the drift histogram projects with."""
    from cve_manager_spark.operators.semantic import drift_fit, drift_projection

    root = tmp_path_factory.mktemp("snapshot_sources")
    events = load_table(spark, SF_SMALL, "events").withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    )
    emb = load_table(spark, SF_SMALL, "embeddings")
    mu, v = drift_fit(emb)
    b = drift_projection(emb, mu, v).agg(
        F.min("p").alias("lo"), F.max("p").alias("hi")
    ).head()
    return {
        "events": _chop(events, root / "events", "event_id"),
        "vectors": _chop(emb, root / "vectors", "vec_id"),
        "drift": (mu, v, int(b["lo"]), int(b["hi"])),
    }


def _events(spark, sources):
    from cve_manager_spark.streaming.windows import read_events_stream

    return read_events_stream(spark, sources["events"], max_files_per_trigger=1)


def _vectors(spark, sources):
    from cve_manager_spark.streaming.sinks import read_vectors_stream

    return read_vectors_stream(spark, sources["vectors"], max_files_per_trigger=1)


def _drift(stream, out, sources):
    from cve_manager_spark.streaming.monitor import foreach_batch_drift_histogram

    return foreach_batch_drift_histogram(stream, out, *sources["drift"])


def _sink(name, **kw):
    def start(stream, out, _sources):
        from cve_manager_spark.streaming import sinks

        return getattr(sinks, name)(stream, out, **kw)

    return start


CASES = {
    "upsert": (_events, _sink("foreach_batch_upsert", key_cols=["event_id"], order_cols=["ts"])),
    "rollup": (_events, _sink("foreach_batch_rollup")),
    "bloom": (_events, _sink("foreach_batch_bloom")),
    "occupancy": (_events, _sink("foreach_batch_occupancy")),
    "quantile_hist": (_events, _sink("foreach_batch_quantile_hist")),
    "heavy_hitters": (_events, _sink("foreach_batch_heavy_hitters")),
    "bottomk_sample": (_events, _sink("foreach_batch_bottomk_sample")),
    "bottomk_stratified": (_events, _sink("foreach_batch_bottomk_stratified")),
    "drift_histogram": (_vectors, _drift),
}


@pytest.mark.parametrize("case", list(CASES))
def test_snapshot_sink_replay_rebuilds_identical_state(spark, sources, tmp_path, case):
    """Re-delivering every batch (checkpoint deleted, snapshots kept)
    rebuilds the identical newest state and the identical version set:
    each replayed batch merges from the newest version strictly below
    its own id, never from its own earlier output."""
    from cve_manager_spark.streaming.sinks import _list_state_versions, read_state

    source, start = CASES[case]
    out = str(tmp_path / case)

    def run():
        start(source(spark, sources), out, sources).awaitTermination()
        # materialize now: the replay overwrites the files this plan reads
        rows = sorted(repr(tuple(r)) for r in read_state(spark, out).collect())
        return rows, _list_state_versions(spark, out)

    rows, versions = run()
    assert versions == list(range(N_FILES))
    assert rows
    shutil.rmtree(f"{out}/_checkpoint")
    assert run() == (rows, versions)


# ---------------------------------------------------------------------------
# structural guard
# ---------------------------------------------------------------------------

SNAPSHOT_SINKS = {
    "sinks.py": {
        "foreach_batch_upsert",
        "foreach_batch_rollup",
        "foreach_batch_cms",
        "foreach_batch_bloom",
        "foreach_batch_occupancy",
        "foreach_batch_quantile_hist",
        "foreach_batch_kmv",
        "foreach_batch_heavy_hitters",
        "foreach_batch_bottomk_sample",
        "foreach_batch_bottomk_stratified",
    },
    "monitor.py": {"foreach_batch_drift_histogram"},
}

# the only functions that list snapshot versions: the snapshot and
# overlay/union state helpers, retention and the fold
VERSION_LISTERS = {
    "_next_version",
    "read_state",
    "snapshot_sink",
    "_overlay_compose",
    "_union_compose",
    "_union_compose_upto",
    "_fold_state",
    "vacuum_snapshot_state",
}


def _top_level_uses(fname: str) -> dict[str, set[str]]:
    """Identifier / attribute name -> top-level functions using it."""
    tree = ast.parse((STREAMING / fname).read_text())
    uses: dict[str, set[str]] = {}
    for top in tree.body:
        owner = top.name if isinstance(top, (ast.FunctionDef, ast.ClassDef)) else "<module>"
        for node in ast.walk(top):
            if isinstance(node, ast.Attribute):
                uses.setdefault(node.attr, set()).add(owner)
            elif isinstance(node, ast.Name):
                uses.setdefault(node.id, set()).add(owner)
            elif isinstance(node, ast.alias):
                uses.setdefault(node.name, set()).add(owner)
    return uses


@pytest.mark.parametrize("fname", ["sinks.py", "monitor.py"])
def test_stream_start_and_version_listing_stay_in_shared_helpers(fname):
    uses = _top_level_uses(fname)
    assert uses.get("writeStream", set()) <= {"_start", "stream_cdf_tail"}
    assert uses.get("_list_state_versions", set()) <= VERSION_LISTERS
    for sink in SNAPSHOT_SINKS[fname]:
        assert sink in uses["snapshot_sink"], f"{sink} bypasses snapshot_sink"
    if fname == "monitor.py":
        assert not {"_STATE_PREFIX", "_list_state_versions", "_sized"} & set(uses)


def _calls(fname: str) -> list[tuple[str, ast.Call]]:
    """(top-level owner, call) for every call in ``fname``."""
    tree = ast.parse((STREAMING / fname).read_text())
    return [
        (top.name, node)
        for top in tree.body
        if isinstance(top, (ast.FunctionDef, ast.ClassDef))
        for node in ast.walk(top)
        if isinstance(node, ast.Call)
    ]


def _chain(call: ast.Call) -> list[str]:
    """Method names along a call chain, outermost first."""
    names = []
    node = call
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            names.append(node.attr)
        node = node.func if isinstance(node, ast.Call) else node.value
    return names


def test_log_structured_state_has_one_bucket_one_writer_one_composer():
    """The bucket expression lives in ``_ss_kb``, every partitioned
    version write goes through ``_write_version`` (``_fold_state``'s
    tmp write is the one other partitioned write), and only the
    composer lists partition dirs."""
    calls = _calls("sinks.py")
    crc = {owner for owner, c in calls if _chain(c)[:1] == ["crc32"]}
    assert crc == {"_ss_kb"}
    partitioned_writes = {
        owner
        for owner, c in calls
        if _chain(c)[:1] == ["parquet"] and {"write", "partitionBy"} <= set(_chain(c))
    }
    assert partitioned_writes == {"_write_version", "_fold_state"}
    listers = {
        owner
        for owner, c in calls
        if isinstance(c.func, ast.Name) and c.func.id == "_list_day_dirs"
    }
    assert listers == {"_overlay_compose"}


# ---------------------------------------------------------------------------
# join-view file layout
# ---------------------------------------------------------------------------


def _parquet_files_per_bucket(out: str, version: int) -> dict[str, int]:
    ver = Path(out) / f"_state_v{version}"
    return {
        d.name: len(list(d.glob("*.parquet"))) for d in ver.glob("kb=*")
    }


def test_join_view_versions_write_one_file_per_bucket(spark, tmp_path):
    """Both change appliers write each touched bucket of a view version
    as one right-sized file, however many tasks produced its rows, and
    the view still equals the batch join."""
    from cve_manager_spark.streaming.sinks import (
        apply_dim_changes,
        apply_facts_changes,
        read_join_view,
    )

    nb = 16
    facts = spark.range(20_000).select(
        F.col("id").alias("f_id"),
        (F.col("id") % 500).alias("f_key"),
        (F.col("id") * 3).alias("f_val"),
    ).repartition(8)
    dim = spark.range(500).select(
        F.col("id").alias("d_key"), (F.col("id") + 7).alias("d_val")
    )
    out = str(tmp_path / "view")

    dim_changes = dim.withColumn("_change_type", F.lit("insert"))
    v0 = apply_dim_changes(spark, out, dim_changes, facts, "f_key", "d_key", nb)
    assert v0 == {"version": 0, "touched_buckets": nb}

    updated = facts.where(F.col("f_id") % 10 == 0).withColumn(
        "f_val", F.col("f_val") + 1
    )
    fact_changes = updated.withColumn(
        "_change_type", F.lit("update_postimage")
    ).repartition(8)
    v1 = apply_facts_changes(
        spark, out, fact_changes, dim, "f_id", "f_key", "d_key", nb
    )
    assert v1 == {"version": 1, "touched_buckets": nb}

    for v in (0, 1):
        files = _parquet_files_per_bucket(out, v)
        assert len(files) == nb
        assert set(files.values()) == {1}, files

    current = facts.join(updated.select("f_id"), "f_id", "left_anti").unionByName(updated)
    want = current.join(dim, current["f_key"] == dim["d_key"])
    got = read_join_view(spark, out)
    assert sorted(got.columns) == sorted(want.columns)
    got = got.select(want.columns)
    assert got.exceptAll(want).unionByName(want.exceptAll(got)).isEmpty()
