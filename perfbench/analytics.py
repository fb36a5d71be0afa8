"""``analytics_mix``: registered analytics queries over seeded tables.

One registered query from each of the six operator families runs once
per pass in a seeded order, forced with the noop sink after the SQL
cache is cleared (as ``bench.py`` does). Set-up generates the ten
engine tables from the seed and warms up with one pass that collects
every result and compares it with the query's ``oracle_sql()`` run in
DuckDB on the same files (the comparison's own time is not counted as
set-up). Pass time still falls over the first four or five passes,
and warming up until it levels off would cost two more passes a
run. Instead every run measures the same number of passes, so each sits
at the same point of that curve: a faster run does not get more of the
faster late passes into its figures.
"""

from __future__ import annotations

import datetime as dt
import math
import random
import time
from collections import Counter
from pathlib import Path

from perfbench import gen
from perfbench.common import Ops, median

# query -> the operator family (layer) it mainly exercises
FAMILY_OF = {
    "dedup_ngram_jaccard": "operators.dedup",
    "graph_kcore": "operators.graph",
    "semantic_dedup": "operators.semantic",
    "sql_tpch_q5": "plans.relational",
    "window_session": "plans.events",
    "text_tfidf": "operators.text",
}
# Half the sf0.01 row counts. Here a traced pass spends about as long
# building and planning (with the eager jobs of the graph, dedup,
# semantic and text operators) as executing; four times the rows
# does not change that and takes half as long again per pass.
SCALE = 0.5
PASSES = 3  # measured per run, so each query's median has three samples
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _cell(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    return v


def multiset(rows, cols) -> Counter:
    """Order-insensitive row multiset with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(row[i]) for i in order) for row in rows)


class AnalyticsMix:
    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.ops = Ops()
        self.rng = random.Random(seed * 13 + 1)

    def setup(self, spark, d: Path) -> float:
        from cve_manager_spark.plans.registry import queries

        self.q = queries()
        self.sf = d / "sf"
        gen.analytics_tables(self.sf, self.seed, SCALE)
        excluded = 0.0
        con = self._duckdb()
        try:
            for name in FAMILY_OF:
                spark.catalog.clearCache()
                df = self.q[name](spark, str(self.sf))
                rows = df.collect()
                t = time.perf_counter()
                self.ops.check(f"oracle.{name}", self._compare(con, name, rows, df.columns))
                excluded += time.perf_counter() - t
        finally:
            con.close()
        return excluded

    def _duckdb(self):
        import duckdb

        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf / f'{t}.parquet'}'")
        return con

    def _compare(self, con, name: str, rows, cols) -> str | None:
        from cve_manager_spark.plans.registry import oracle_sql

        rel = con.sql(oracle_sql()[name])
        if sorted(cols) != sorted(rel.columns):
            return f"columns {sorted(cols)} vs oracle {sorted(rel.columns)}"
        want = multiset(rel.fetchall(), list(rel.columns))
        got = multiset([tuple(r) for r in rows], cols)
        return None if got == want else f"{sum((got - want).values())} rows differ from the oracle"

    def _query(self, spark, name: str, tr, req: str) -> float:
        fam = FAMILY_OF[name]
        spark.catalog.clearCache()
        t0 = time.perf_counter()
        with tr.span(f"{fam}.query", request=req, query=name, family=fam):
            with tr.span(f"{fam}.build", spark=True):
                df = self.q[name](spark, str(self.sf))
            if tr.enabled:
                with tr.span(f"{fam}.plan", spark=True):
                    df._jdf.queryExecution().executedPlan()
            with tr.span(f"{fam}.exec", spark=True):
                df.write.format("noop").mode("overwrite").save()
        seconds = time.perf_counter() - t0
        if tr.enabled:
            self.blocks.append(self.jvm.storage())
        return seconds

    def measure(self, spark, seconds: float, tr_on) -> dict:
        from perfbench.trace import Jvm, Tracer

        off = Tracer(spark, False)
        self.jvm = Jvm(spark)
        self.blocks: list[tuple[int, int]] = []
        self.traced_passes = 0
        untraced: list[float] = []  # seconds per untraced pass
        for n in range(PASSES):
            traced = tr_on.enabled and n % 2 == 1
            order = list(FAMILY_OF)
            self.rng.shuffle(order)
            tp = time.perf_counter()
            for name in order:
                try:
                    secs = self._query(spark, name, tr_on if traced else off, f"pass{n}-{name}")
                    self.ops.add(name, secs, True, traced, primary=True)
                except Exception as e:  # a raising query counts as failed
                    self.ops.add(name, 0.0, False, traced, primary=True,
                                 error=f"raised {type(e).__name__}: {e}")
            if traced:
                self.traced_passes += 1
            else:
                untraced.append(time.perf_counter() - tp)
        per_query = {n: median(self.ops.latencies(kind=n)) for n in FAMILY_OF}
        return {
            "items": len(FAMILY_OF) * len(untraced),
            "items_s": sum(untraced),
            "detail": {
                "analytics_pass_s": median(untraced),
                "analytics_geomean_s": math.exp(sum(math.log(max(v, 1e-9)) for v in per_query.values())
                                                / len(per_query)),
                "passes": len(untraced),
                "per_query_p50_s": per_query,
            },
        }

    def verify(self, spark) -> None:
        """Results were hash-checked against DuckDB during the first set-up."""

    def layers(self, tr) -> dict:
        """Per family: seconds and counts per traced pass."""
        out = {}
        n = max(self.traced_passes, 1)
        for fam in FAMILY_OF.values():
            def total(part, key=None):
                sel = [r for r in tr.spans if r["name"] == f"{fam}.{part}"]
                if key is None:
                    return sum(r["end"] - r["start"] for r in sel) / n
                return sum(len(r["jobs"]) if key == "jobs" else r[key] for r in sel) / n

            out[f"{fam}.build_s"] = total("build")
            out[f"{fam}.build_jobs"] = total("build", "jobs")
            out[f"{fam}.plan_s"] = total("plan")
            out[f"{fam}.exec_s"] = total("exec")
            out[f"{fam}.jobs"] = total("exec", "jobs")
            for key in ("executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes"):
                out[f"{fam}.{key}"] = sum(total(part, key) for part in ("build", "plan", "exec"))
        out["functions.blocks.resident_rdd_blocks_after_query"] = median(b[0] for b in self.blocks)
        out["functions.blocks.storage_bytes_after_query"] = median(b[1] for b in self.blocks)
        return out
