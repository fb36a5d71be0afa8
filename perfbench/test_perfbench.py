"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the root."""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import gen  # noqa: E402
from perfbench.analytics import TABLES, AnalyticsMix  # noqa: E402
from perfbench.common import Ops  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def _write_all(d: Path, seed: int) -> None:
    for y, items in gen.nvd_feeds(seed, [2020, 2021], 40).items():
        gen.write_feed(d / f"feed-{y}.json", y, items)
    gen.write_cwe_csv(d / "cwe.csv", gen.cwe_rows(seed))
    gen.analytics_tables(d / "sf", seed, 0.05)
    for i, b in enumerate(gen.event_batches(seed, 3, 50, 0.3)):
        gen.write_event_batch(d / f"batch-{i}.parquet", b)


def _files(d: Path) -> dict[str, bytes]:
    return {str(p.relative_to(d)): p.read_bytes() for p in sorted(d.rglob("*")) if p.is_file()}


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    for sub, seed in (("a", 7), ("b", 7), ("c", 8)):
        (tmp_path / sub).mkdir()
        _write_all(tmp_path / sub, seed)
    a, b, c = (_files(tmp_path / s) for s in "abc")
    assert a == b
    assert a.keys() == c.keys() and a != c


def test_feeds_cover_every_flatten_branch():
    items = [i for y in gen.nvd_feeds(3, [2020, 2021], 300).values() for i in y]
    nodes = [n for i in items for n in i["configurations"]["nodes"]]
    matches = [m for n in nodes for m in n.get("cpe_match", [])]
    children = [c for n in nodes for c in n.get("children", [])]
    assert any(n.get("children") == [] for n in nodes)
    assert any("children" in n and "cpe_match" in n for n in nodes)
    assert any("cpe_match" in n and "children" not in n for n in nodes)
    assert any("cpe_match" not in c for c in children)
    assert any("cpe23Uri" not in m for m in matches)
    assert any("baseMetricV3" not in i["impact"] for i in items)
    assert any("baseMetricV2" not in i["impact"] for i in items)
    v2 = [i["impact"]["baseMetricV2"] for i in items if "baseMetricV2" in i["impact"]]
    assert any("userInteractionRequired" not in m for m in v2)
    assert any("userInteractionRequired" in m for m in v2)
    texts = [d["value"] for i in items for d in i["cve"]["description"]["description_data"]]
    assert all(any(ch in t for t in texts) for ch in "\r\n\t")
    assert any(len(i["cve"]["description"]["description_data"]) > 1 for i in items)
    labels = {d["value"] for i in items for pt in i["cve"]["problemtype"]["problemtype_data"]
              for d in pt["description"]}
    assert "NVD-CWE-Other" in labels


def test_event_batches_overlap_and_keys_unique_per_batch():
    batches = gen.event_batches(5, 4, 1000, 0.3)
    seen: set[int] = set()
    for i, b in enumerate(batches):
        ids = b["event_id"]
        assert len(set(ids)) == len(ids)
        if i:
            assert len(seen & set(ids)) == 300
        seen |= set(ids)


def test_planted_wrong_row_counts_as_failure(tmp_path):
    from cve_manager_spark.plans.registry import oracle_sql

    mix = AnalyticsMix(seed=4, cores=1)
    mix.sf = tmp_path
    gen.analytics_tables(tmp_path, 4, 0.2)
    con = mix._duckdb()
    try:
        rel = con.sql(oracle_sql()["sql_tpch_q5"])
        cols, rows = list(rel.columns), rel.fetchall()
        assert rows
        ops = Ops()
        ops.check("oracle.sql_tpch_q5", mix._compare(con, "sql_tpch_q5", rows, cols))
        assert (ops.attempted, ops.failed) == (1, 0)
        wrong = list(rows[0])
        wrong[cols.index("n_name")] = "NOWHERE"
        ops.check("oracle.sql_tpch_q5", mix._compare(con, "sql_tpch_q5", [tuple(wrong)] + rows[1:], cols))
        assert (ops.attempted, ops.failed) == (2, 1)
    finally:
        con.close()
    assert set(TABLES) == {p.stem for p in tmp_path.glob("*.parquet")}


def test_benchmark_json_names_and_bounds():
    names = [w["name"] for w in SPEC["workloads"]]
    names += [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    assert all(NAME.fullmatch(n) for n in names), [n for n in names if not NAME.fullmatch(n)]
    assert len(names) == len(set(names))
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_without_the_package_it_fails_and_prints_no_result(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(SPEC["command"] + ["--workload", "stream_lake", "--seed", "1",
                                            "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert "{" not in out.stdout


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_command_prints_exactly_the_declared_metrics(trace, section):
    out = subprocess.run(SPEC["command"] + ["--workload", "cve_ingest_lookup", "--seed", "2",
                                            "--seconds", "1", "--trace", str(trace)],
                         cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    declared = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
