"""``cve_ingest_lookup``: the paper's own surface, ingest then lookups.

Ingest appends one NVD year file at a time to a parquet warehouse
(``read_feeds_json`` -> ``flatten_all`` -> one append per relation) and
loads the CWE catalog with ``read_cwe_csv``. Lookups then cycle through
the five shapes of ``plans/cve_queries.py`` in a seeded order, each round
holding every shape once, with CVE ids skewed toward recent years.
"""

from __future__ import annotations

import csv
import datetime as dt
import glob
import random
import time
from pathlib import Path

from perfbench import gen
from perfbench.common import Ops, median, norm_rows, tree_stats
from perfbench.reference import CveReference

YEARS = [2016, 2017, 2018, 2019, 2020, 2021]
WARM_YEAR = 2010
ITEMS_PER_YEAR = 2500
WARM_ITEMS = 500
SHAPES = ("cve_detail", "cwe_detail", "score_date", "cpe", "export")
RELATIONS = ("cvss", "cve_problem", "cpe")
LOOKUP_ROUNDS = 5  # at least this many rounds of the five shapes per run


def _fmt(v) -> str:
    return "" if v is None else (v.isoformat() if isinstance(v, dt.date) else str(v))


class CveIngestLookup:
    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.ops = Ops()

    # -- inputs -----------------------------------------------------------

    def setup(self, spark, d: Path) -> float:
        self.dir = d
        (d / "feeds").mkdir(parents=True)
        feeds = gen.nvd_feeds(self.seed, YEARS, ITEMS_PER_YEAR)
        feeds.update(gen.nvd_feeds(self.seed, [WARM_YEAR], WARM_ITEMS))
        self.feed_paths, self.feed_bytes = {}, {}
        for y, items in feeds.items():
            p = d / "feeds" / f"nvdcve-1.1-{y}.json"
            self.feed_bytes[y] = gen.write_feed(p, y, items)
            self.feed_paths[y] = p
        cwe = gen.cwe_rows(self.seed)
        self.cwe_csv = d / "cwe.csv"
        gen.write_cwe_csv(self.cwe_csv, cwe)
        self.ref = CveReference([i for y in YEARS for i in feeds[y]], cwe)
        self.ids = {y: [i["cve"]["CVE_data_meta"]["ID"] for i in feeds[y]] for y in YEARS}
        from perfbench.trace import Tracer

        # warm-up: one ingest of a small year of its own and two rounds of
        # lookups, on a warehouse of its own. The first measured year may
        # still be slower; the ingest rate is taken from the median year.
        off = Tracer(spark, False)
        warm = d / "warm_wh"
        self._ingest(spark, warm, WARM_YEAR, off)
        self._ingest_cwe(spark, warm, off)
        warm_ref = CveReference(feeds[WARM_YEAR], cwe)
        rng = random.Random(self.seed * 31 + 3)
        warm_ids = [i["cve"]["CVE_data_meta"]["ID"] for i in feeds[WARM_YEAR]]
        for shape in SHAPES + SHAPES:
            params = self._params(rng, shape, lambda: rng.choice(warm_ids))
            _, problem = self._lookup(spark, warm, warm_ref, shape, params, off, None)
            if problem:
                raise RuntimeError(f"warm-up {shape}: {problem}")
        return 0.0

    # -- ingest -----------------------------------------------------------

    def _ingest(self, spark, wh: Path, year: int, tr) -> None:
        from cve_manager_spark.operators.flatten import flatten_all
        from cve_manager_spark.sources.nvd import read_feeds_json

        with tr.span("sources.nvd.ingest", request=f"ingest-{year}", year=year,
                     feed_bytes=self.feed_bytes[year]):
            rels = flatten_all(read_feeds_json(spark, str(self.feed_paths[year])))
            for rel in RELATIONS:
                with tr.span(f"operators.flatten.{rel}", spark=True):
                    rels[rel].write.mode("append").parquet(str(wh / rel))

    def _ingest_cwe(self, spark, wh: Path, tr) -> None:
        from cve_manager_spark.sources.cwe_csv import read_cwe_csv

        with tr.span("sources.cwe_csv.ingest", request="ingest-cwe", spark=True):
            read_cwe_csv(spark, str(self.cwe_csv)).write.mode("overwrite").parquet(str(wh / "cwe"))

    # -- lookups ------------------------------------------------------------

    def _pick_id(self, rng: random.Random) -> str:
        recent_first = sorted(YEARS, reverse=True)
        year = rng.choices(recent_first, weights=[1 / r ** 1.2 for r in range(1, len(YEARS) + 1)])[0]
        return rng.choice(self.ids[year])

    @staticmethod
    def _params(rng: random.Random, shape: str, pick_id) -> dict:
        date = None if rng.random() < 0.3 else dt.date(rng.choice(YEARS), rng.randrange(1, 13), 1)
        if shape == "cve_detail":
            return {"cve_id": pick_id()}
        if shape == "cwe_detail":
            return {"cwe_id": rng.choice(gen.CWE_IDS)}
        if shape == "cpe":
            return {"pattern": f"{rng.choice(gen.VENDORS)}:{rng.choice(gen.PRODUCTS)}",
                    "score": round(rng.uniform(4.0, 8.0), 1), "date": date}
        return {"score": round(rng.uniform(7.0, 9.5), 1), "date": date}

    def _build(self, spark, wh: Path, shape: str, p: dict) -> dict:
        from cve_manager_spark.plans import cve_queries as cq

        def read(rel):
            return spark.read.parquet(str(wh / rel))

        if shape == "cve_detail":
            return cq.cve_detail(read("cvss"), read("cve_problem"), read("cpe"), read("cwe"), p["cve_id"])
        if shape == "cwe_detail":
            return {"cwe": cq.cwe_detail(read("cwe"), p["cwe_id"])}
        if shape == "cpe":
            view = cq.cvss_vs_cpes(read("cvss"), read("cpe"))
            return {"cpe": cq.cves_by_cpe(view, p["pattern"], p["score"], p["date"])}
        return {shape: cq.cves_by_score_date(read("cvss"), p["score"], p["date"])}

    @staticmethod
    def _expected(ref: CveReference, shape: str, p: dict) -> dict:
        if shape == "cve_detail":
            return ref.cve_detail(p["cve_id"])
        if shape == "cwe_detail":
            return {"cwe": ref.cwe_detail(p["cwe_id"])}
        if shape == "cpe":
            return {"cpe": ref.by_cpe(p["pattern"], p["score"], p["date"])}
        return {shape: ref.by_score_date(p["score"], p["date"])}

    def _lookup(self, spark, wh: Path, ref: CveReference, shape: str, p: dict, tr, req):
        """Run one lookup. Returns its seconds (build to result, checks
        excluded) and a description of the first wrong section, or None
        when every section matches the reference."""
        from cve_manager_spark.sources.sinks import export_results

        name = f"cve_queries.{shape}"
        out = wh.parent / "exports" / f"{req or 'warm'}-{time.perf_counter_ns()}"
        t0 = time.perf_counter()
        with tr.span(name, request=req):
            with tr.span(f"{name}.build", spark=True):
                dfs = self._build(spark, wh, shape, p)
            if tr.enabled:
                with tr.span(f"{name}.plan", spark=True):
                    for df in dfs.values():
                        df._jdf.queryExecution().executedPlan()
            with tr.span(f"{name}.exec", spark=True):
                if shape == "export":
                    export_results(dfs[shape], str(out))
                    got = None
                else:
                    got = {k: df.collect() for k, df in dfs.items()}
        seconds = time.perf_counter() - t0
        want = self._expected(ref, shape, p)
        if shape == "export":
            rows = []
            for part in sorted(glob.glob(str(out / "part-*.csv"))):
                with open(part, newline="") as f:
                    rows += list(csv.reader(f))[1:]
            expect = [tuple(_fmt(v) for v in r) for r in want[shape]]
            same = sorted(map(tuple, rows)) == sorted(expect)
            return seconds, None if same else f"export differs ({len(rows)} rows)"
        for k, rows in want.items():
            if norm_rows(got[k]) != rows:
                return seconds, f"{shape}.{k}: {len(got[k])} rows vs {len(rows)} expected"
        return seconds, None

    # -- the measured loop -------------------------------------------------

    def measure(self, spark, seconds: float, tr_on) -> dict:
        from perfbench.trace import Tracer

        off = Tracer(spark, False)
        wh = self.dir / "warehouse"
        self.wh = wh
        t0 = time.perf_counter()
        for i, y in enumerate(YEARS):
            traced = tr_on.enabled and i % 2 == 1
            s = time.perf_counter()
            self._ingest(spark, wh, y, tr_on if traced else off)
            self.ops.add("ingest", time.perf_counter() - s, True, traced)
        s = time.perf_counter()
        self._ingest_cwe(spark, wh, tr_on if tr_on.enabled else off)
        self.ops.add("ingest_cwe", time.perf_counter() - s, True)
        ingest_s = time.perf_counter() - t0
        self.files_written, self.bytes_written = tree_stats(wh)
        want = self.ref.counts()
        got = {rel: spark.read.parquet(str(wh / rel)).count() for rel in RELATIONS}
        self.ops.check("ingest_counts", None if got == want else f"{got} vs {want}")

        rng = random.Random(self.seed * 31 + 5)
        t_lookups, i = time.perf_counter(), 0
        seen = dict.fromkeys(SHAPES, 0)
        while True:
            shapes = list(SHAPES)
            rng.shuffle(shapes)
            for shape in shapes:
                params = self._params(rng, shape, lambda: self._pick_id(rng))
                traced = tr_on.enabled and seen[shape] % 2 == 1  # every other one per shape
                seen[shape] += 1
                s = time.perf_counter()
                try:
                    secs, problem = self._lookup(spark, wh, self.ref, shape, params,
                                                 tr_on if traced else off, f"lookup-{i}")
                except Exception as e:  # a raising lookup counts as failed
                    secs, problem = time.perf_counter() - s, f"raised {type(e).__name__}: {e}"
                self.ops.add(shape, secs, problem is None, traced, primary=True, error=problem)
                i += 1
            if time.perf_counter() - t0 >= seconds and i >= LOOKUP_ROUNDS * len(SHAPES):
                break
        lookups = self.ops.latencies()
        # ingest rate from the median year: one slow append moves it less
        year_s = median(self.ops.seconds_of("ingest"))
        return {
            "items": ITEMS_PER_YEAR,
            "items_s": year_s,
            "detail": {
                "ingest_items_per_s": len(YEARS) * ITEMS_PER_YEAR / ingest_s,
                "ingest_s_per_year": self.ops.seconds_of("ingest"),
                "lookup_p50_s": median(lookups),
                "lookups": len(lookups),
                "lookup_s": time.perf_counter() - t_lookups,
                "per_shape_p50_s": {s: median(self.ops.latencies(kind=s)) for s in SHAPES},
                "warehouse_files": self.files_written,
                "warehouse_bytes": self.bytes_written,
            },
        }

    def verify(self, spark) -> None:
        """Every lookup was checked as it ran; nothing is left to check."""

    # -- per-layer ----------------------------------------------------------

    def layers(self, tr) -> dict:
        spans = tr.spans
        out = {}
        for shape in SHAPES:
            base = f"cve_queries.{shape}"
            for part in ("build", "plan", "exec"):
                out[f"{base}.{part}_s"] = median(r["end"] - r["start"] for r in spans
                                                 if r["name"] == f"{base}.{part}")
            out[f"{base}.jobs"] = median(len(r["jobs"]) for r in spans if r["name"] == f"{base}.exec")
        ingests = [r for r in spans if r["name"] == "sources.nvd.ingest"]
        ids = {r["id"] for r in ingests}
        flat = [r for r in spans if r["name"].startswith("operators.flatten.") and r["parent"] in ids]
        feed_bytes = sum(r["feed_bytes"] for r in ingests)
        wall = sum(r["end"] - r["start"] for r in ingests)
        out["sources.nvd.json_bytes_read_per_feed_byte"] = sum(r["input_bytes"] for r in flat) / max(feed_bytes, 1)
        out["sources.nvd.tasks_per_feed"] = sum(r["tasks"] for r in flat) / max(len(ingests), 1)
        for rel in RELATIONS:
            out[f"operators.flatten.{rel}.exec_s"] = median(
                r["end"] - r["start"] for r in flat if r["name"] == f"operators.flatten.{rel}")
        out["ingest.core_utilization"] = sum(r["executor_run_s"] for r in flat) / max(wall * self.cores, 1e-9)
        out["warehouse.files_written"] = self.files_written
        out["warehouse.bytes_written"] = self.bytes_written
        return out
