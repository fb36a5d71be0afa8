"""The commit step of the commit-log DML: file identity through paths
that Spark percent-encodes, and a structural guard that keeps the
stage/check/publish/unstage protocol in one place of ``commitlog.py``.

Spark reports a scanned file as a URI (``_metadata.file_path``), so a
table root holding a space, or a partition value ``"a b"``, comes back
as ``%20``. Position-delete files keep that encoded form (the scan-time
anti-join compares encoded with encoded); what reaches the manifest —
touched files, the ``dv.counts`` keys — must be the plain relative
path the manifest lists.
"""

from __future__ import annotations

import ast
from pathlib import Path
from urllib.parse import unquote

import pytest

from cve_manager_spark import commitlog
from cve_manager_spark.commitlog import TableLog

_SCHEMA = "k long, p string, v long"


def _assert_counts_are_manifest_files(log: TableLog) -> None:
    _, files = log.snapshot()
    counts = log._dv_of().get("counts", {})
    assert set(counts) <= set(files), sorted(counts)
    assert all((log.root / f).exists() for f in counts)


@pytest.mark.parametrize(
    "root_dir,value",
    [("plain", "a"), ("dv case", "a"), ("plain", "a b")],
    ids=["plain", "space-in-root", "space-in-partition-value"],
)
def test_encoded_paths_reach_the_manifest_decoded(
    spark, tmp_path, root_dir, value
):
    path = tmp_path / root_dir / "t"
    rows = [(k, value if k % 2 == 0 else "b", 7 * k) for k in range(300)]
    spark.createDataFrame(rows[:0], _SCHEMA).coalesce(1).write.parquet(
        str(path)
    )
    log = TableLog(str(path))
    log.init()
    log.set_partitioning(spark, ["p"])
    log.append(
        spark, spark.createDataFrame(rows, _SCHEMA).repartition(3, "k")
    )
    model = {k: (p, v) for k, p, v in rows}

    def upd(keys):
        return spark.createDataFrame([(k, value, -k) for k in keys], _SCHEMA)

    def check():
        got = sorted(
            (r["k"], r["p"], r["v"]) for r in log.read(spark).collect()
        )
        assert got == sorted((k, p, v) for k, (p, v) in model.items())
        assert log.row_count() == len(model)
        _assert_counts_are_manifest_files(log)

    before = log.latest_version()
    log.delete_where_mor(spark, "k % 10 = 0")
    for k in range(0, 300, 10):
        del model[k]
    check()
    gone = log.changes(spark, before, key_cols=["k"]).collect()
    assert sorted(r["k"] for r in gone) == list(range(0, 300, 10))
    assert {r["_change_type"] for r in gone} == {"delete"}

    log.merge_upsert_mor(spark, upd(range(250, 320)), ["k"])
    model.update({k: (value, -k) for k in range(250, 320)})
    check()

    log.update_where_mor(spark, "k % 10 = 3", {"v": "v + 1"})
    model.update({
        k: (p, v + 1) for k, (p, v) in model.items() if k % 10 == 3
    })
    check()

    # every delete file still names manifest files once decoded, and a
    # plain table stores exactly the manifest paths
    dv = log._dv_of()
    stored = {
        r["__dv_file"]
        for r in log._dv_df(spark, dv["files"]).select("__dv_file")
        .distinct().collect()
    }
    assert {unquote(f) for f in stored} == set(dv["counts"])
    if root_dir == "plain" and " " not in value:
        assert stored == set(dv["counts"])

    out = log.consolidate_deletes(spark)
    assert out["dv_files_before"] == 3 and out["dv_files_after"] == 1
    check()

    log.delete_where(spark, "k % 10 = 4")
    for k in [k for k in model if k % 10 == 4]:
        del model[k]
    check()

    log.merge_upsert(spark, upd(range(100, 120)), ["k"])
    model.update({k: (value, -k) for k in range(100, 120)})
    check()


# -- structure ---------------------------------------------------------

_SOURCE = Path(commitlog.__file__).read_text()


def _owners(tree: ast.AST) -> dict[int, str]:
    """id(node) -> name of the innermost function that holds it."""
    owner: dict[int, str] = {}
    for fn in ast.walk(tree):
        if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            for node in ast.walk(fn):
                owner[id(node)] = fn.name
    return owner


def _called(node: ast.AST, name: str) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == name
    )


def _names(node: ast.AST | None) -> set[str]:
    if node is None:
        return set()
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def test_commit_protocol_lives_in_one_place():
    tree = ast.parse(_SOURCE)
    owner = _owners(tree)
    nodes = list(ast.walk(tree))

    counting = {owner.get(id(n)) for n in nodes if _called(n, "_count_files")}
    assert counting == {"_check_rows"}

    catching = {
        owner.get(id(n))
        for n in nodes
        if isinstance(n, ast.ExceptHandler)
        and "CommitConflict" in _names(n.type)
    }
    assert "_commit" in catching and catching <= {"_commit", "append"}

    reading = {
        owner.get(id(n))
        for n in nodes
        if _called(n, "open")
        and n.args
        and _called(n.args[0], "_manifest_path")
    }
    assert reading == {"_manifest", "_publish"}

    assert "input_file_name" not in _SOURCE

    tagged = [
        n for n in nodes
        if isinstance(n, ast.JoinedStr)
        and any(
            isinstance(a, ast.Constant)
            and str(a.value).endswith("@")
            and isinstance(b, ast.FormattedValue)
            and _names(b.value) == {"tag"}
            for a, b in zip(n.values, n.values[1:])
        )
    ]
    assert len(tagged) == 1
