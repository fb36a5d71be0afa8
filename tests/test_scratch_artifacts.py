"""The on-disk scratch-state store (``plans/artifacts.scratch``) with toy
builds that write a text file — no Spark — plus a structural guard that
keeps the store's build/publish decision in ``artifacts.py`` alone."""

from __future__ import annotations

import ast
import tempfile
import threading
from pathlib import Path

import pytest

from cve_manager_spark.plans import artifacts
from cve_manager_spark.plans.artifacts import scratch

SF = "/data/sf0.001"

BUILDERS = (
    "_timetravel_log",
    "_evolution_log",
    "_catalog_tx_scratch",
    "_catalog_adddrop_scratch",
    "_catalog_branch_scratch",
    "_two_stream_view_state",
    "_zonemap_log",
    "_cdf_pruned_log",
    "_bloom_log",
    "_zorder_log",
    "_clone_log",
    "_dv_log",
)


@pytest.fixture(autouse=True)
def _tmpdir(tmp_path, monkeypatch):
    # gettempdir() caches its answer, so TMPDIR alone would not move it
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))


def _writer(calls):
    def build(work):
        calls.append(work)
        (work / "table.txt").write_text("rows")

    return build


def test_second_call_reuses_root(tmp_path):
    calls = []
    first = scratch("toy", SF, _writer(calls))
    second = scratch("toy", SF, _writer(calls))
    assert first == second and len(calls) == 1
    assert first.parent == tmp_path
    assert first.name.startswith("cve_spark_toy_data_sf0_001_")
    assert (first / "table.txt").read_text() == "rows"
    assert (first / "_done").exists()


def test_code_change_builds_new_root_and_keeps_old(tmp_path, monkeypatch):
    calls = []
    old = scratch("toy", SF, _writer(calls))
    monkeypatch.setattr(artifacts, "_code_digest", lambda: "0123456789ab")
    new = scratch("toy", SF, _writer(calls))
    assert new != old and len(calls) == 2
    assert new.name == "cve_spark_toy_data_sf0_001_0123456789ab"
    for root in (old, new):
        assert (root / "_done").exists()
        assert (root / "table.txt").read_text() == "rows"


def test_failing_build_publishes_nothing(tmp_path):
    def build(work):
        (work / "table.txt").write_text("half")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        scratch("toy", SF, build)
    assert list(tmp_path.iterdir()) == []  # no root, no cve_spark_toy_build_*


def test_racing_builders_share_one_root(tmp_path):
    both_built = threading.Barrier(2)
    calls, roots, errors = [], [], []

    def build(work):
        _writer(calls)(work)
        both_built.wait(timeout=10)  # neither publishes before both built

    def run():
        try:
            roots.append(scratch("toy", SF, build))
        except Exception as e:  # surfaced by the asserts below
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == [] and len(calls) == 2
    assert roots[0] == roots[1] and (roots[0] / "_done").exists()
    assert [p.name for p in tmp_path.iterdir()] == [roots[0].name]


def test_failed_publish_without_complete_root_raises(tmp_path, monkeypatch):
    def replace(src, dst):
        raise OSError("rename refused")

    monkeypatch.setattr(artifacts.os, "replace", replace)
    with pytest.raises(OSError, match="rename refused"):
        scratch("toy", SF, _writer([]))
    assert list(tmp_path.iterdir()) == []


_ALLOWED: set[tuple[str, str]] = set()


def _store_names(tree):
    """Names that belong to the scratch store's build/publish step."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and node.id == "tempfile":
            yield "tempfile"
        elif isinstance(node, ast.Import):
            yield from (a.name for a in node.names if a.name == "tempfile")
        elif isinstance(node, ast.ImportFrom) and node.module == "tempfile":
            yield "tempfile"
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            name = f"{node.value.id}.{node.attr}"
            if name in ("os.replace", "shutil.rmtree"):
                yield name
        elif isinstance(node, ast.Constant) and node.value == "_done":
            yield '"_done"'


def test_only_artifacts_builds_and_publishes_scratch_state():
    plans = Path(artifacts.__file__).parent
    found = {
        (path.name, name)
        for path in sorted(plans.glob("*.py"))
        if path.name != "artifacts.py"
        for name in _store_names(ast.parse(path.read_text()))
    }
    assert found <= _ALLOWED, sorted(found - _ALLOWED)

    tree = ast.parse((plans / "features.py").read_text())
    defs = {
        node.name: node
        for node in tree.body
        if isinstance(node, ast.FunctionDef) and node.name in BUILDERS
    }
    assert sorted(defs) == sorted(BUILDERS)
    for name, node in defs.items():
        calls = {
            c.func.id
            for c in ast.walk(node)
            if isinstance(c, ast.Call) and isinstance(c.func, ast.Name)
        }
        assert "scratch" in calls, name
