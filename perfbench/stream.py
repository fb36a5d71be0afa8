"""``stream_lake``: snapshot sinks and a commit-logged table, batch by batch.

Each micro-batch of events lands as one parquet file. One batch is an
``availableNow`` trigger of ``foreach_batch_upsert`` (newest row per
``event_id``), one of ``foreach_batch_rollup`` (day-grain count and
decimal sum), and one commit to a ``TableLog``: ``append`` for the first
batch, ``merge_upsert_mor`` by ``event_id`` after it. Around those, the
commit log also serves a ``read`` after every batch, a
``delete_where_mor`` every third batch and ``compact`` plus ``vacuum``
every sixth, both starting with the second. State is never reclaimed
between batches, as in a real pipeline; the run reports how much of it
there is at the end. Every run pushes the same number of batches,
whatever ``--seconds`` is, so that the state it leaves and the counts it
reports do not depend on how fast the engine is. The first batch, the
only ``append`` on an empty table, is kept out of the batch latencies.
"""

from __future__ import annotations

import datetime as dt
import time
from decimal import Decimal
from pathlib import Path

from perfbench import gen
from perfbench.common import Ops, listing, median, tree_stats

BATCH_ROWS = 2000
OVERLAP = 0.3
BATCHES = 6  # per run: one delete/compact/vacuum cycle and four merges after it
WARM_BATCHES = 2
DELETE_BELOW = 2.0
SCHEMA = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double"
TARGET_ROWS_PER_FILE = 20_000


def _micros(t: dt.datetime) -> int:
    return (t - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


class Pipeline:
    """One source directory, the two sinks and the table, plus the model
    of what each should hold."""

    def __init__(self, spark, root: Path, batches: list[dict]):
        from cve_manager_spark.commitlog import TableLog

        self.spark, self.root, self.batches = spark, root, batches
        self.src = root / "landing"
        self.src.mkdir(parents=True)
        self.upsert_dir, self.rollup_dir = root / "upsert", root / "rollup"
        # the table starts as one empty part file carrying the schema
        spark.createDataFrame([], SCHEMA).coalesce(1).write.parquet(str(root / "table"))
        self.table = TableLog(str(root / "table"))
        self.table.init()
        self.stream = spark.readStream.schema(SCHEMA).parquet(str(self.src))
        self.landed = 0
        self.input_bytes = 0
        self.newest: dict[int, tuple] = {}  # upsert sink model
        self.rollup: dict[dt.date, list] = {}  # day -> [count, Decimal sum]
        self.keyed: dict[int, tuple] = {}  # table model

    def land(self) -> tuple[Path, list[tuple]]:
        b = self.batches[self.landed]
        path = self.src / f"batch-{self.landed:05d}.parquet"
        self.input_bytes += gen.write_event_batch(path, b)
        self.landed += 1
        rows = [(b["event_id"][i], _micros(b["ts"][i]), b["user_id"][i], b["event_type"][i], b["value"][i])
                for i in range(len(b["event_id"]))]
        for r in rows:
            self.newest[r[0]] = r
            day = (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=r[1])).date()
            acc = self.rollup.setdefault(day, [0, Decimal(0)])
            acc[0] += 1
            acc[1] += Decimal(str(r[4]))
        return path, rows

    def sink(self, which: str, tr, ops: Ops, traced: bool) -> None:
        from cve_manager_spark.streaming.sinks import foreach_batch_rollup, foreach_batch_upsert

        with tr.span(f"streaming.sinks.{which}") as rec:
            t = time.perf_counter()
            if which == "upsert":
                q = foreach_batch_upsert(self.stream, str(self.upsert_dir), ["event_id"], ["ts"])
            else:
                q = foreach_batch_rollup(self.stream, str(self.rollup_dir))
            q.awaitTermination()  # raises if the trigger failed, which fails the run
            ops.add(f"sink.{which}", time.perf_counter() - t, True, traced)
            if rec is not None:
                rec["group"] = str(q.runId)
                prog = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
                if prog:
                    rec["add_batch_s"] = prog[-1]["durationMs"].get("addBatch", 0) / 1000.0
                    rec["query_planning_s"] = prog[-1]["durationMs"].get("queryPlanning", 0) / 1000.0

    def commit(self, op: str, tr, ops: Ops, traced: bool, path: Path | None = None,
               rows: list[tuple] | None = None) -> None:
        """One commit-log operation, timed and applied to the model."""
        from pyspark.sql import functions as F

        before = listing(self.table.root) if tr.enabled else None
        with tr.span(f"commitlog.{op}", spark=True) as rec:
            t = time.perf_counter()
            if op == "append":
                self.table.append(self.spark, self.spark.read.schema(SCHEMA).parquet(str(path)))
            elif op == "merge_upsert_mor":
                self.table.merge_upsert_mor(
                    self.spark, self.spark.read.schema(SCHEMA).parquet(str(path)), ["event_id"])
            elif op == "delete_where_mor":
                self.table.delete_where_mor(self.spark, F.col("value") < DELETE_BELOW)
            elif op == "read":
                n = self.table.read(self.spark).count()
            elif op == "compact":
                self.table.compact(self.spark, TARGET_ROWS_PER_FILE)
            elif op == "vacuum":
                self.table.vacuum(keep_versions=1, min_age_seconds=0)
            secs = time.perf_counter() - t
        problem = None
        if op in ("append", "merge_upsert_mor"):
            self.keyed.update((r[0], r) for r in rows)
        elif op == "delete_where_mor":
            self.keyed = {k: r for k, r in self.keyed.items() if not r[4] < DELETE_BELOW}
        elif op == "read" and n != len(self.keyed):
            problem = f"table has {n} rows, expected {len(self.keyed)}"
        ops.add(f"commitlog.{op}", secs, problem is None, traced, error=problem)
        if rec is not None:
            after = listing(self.table.root)
            new = [p for p in after if p not in before]
            rec["files_written"] = len(new)
            rec["bytes_written"] = sum(after[p] for p in new)

    def batch(self, i: int, tr, ops: Ops, traced: bool) -> None:
        """Land batch ``i`` and push it through both sinks and the table;
        the batch's latency is the sinks plus the commit."""
        path, rows = self.land()
        with tr.span("stream_lake.batch", request=f"batch-{i}"):
            t = time.perf_counter()
            self.sink("upsert", tr, ops, traced)
            self.sink("rollup", tr, ops, traced)
            self.commit("append" if i == 0 else "merge_upsert_mor", tr, ops, traced, path, rows)
            ops.add("batch", time.perf_counter() - t, True, traced, primary=i > 0)
        self.commit("read", tr, ops, traced)
        if i % 3 == 1:
            self.commit("delete_where_mor", tr, ops, traced)
        if i % 6 == 1:
            self.commit("compact", tr, ops, traced)
            self.commit("vacuum", tr, ops, traced)

    def verify(self) -> dict[str, str | None]:
        """Final sink states and table against the models."""
        from pyspark.sql import functions as F

        from cve_manager_spark.streaming.sinks import read_rollup_state, read_upsert_state

        def rows(df):
            return sorted(tuple(r) for r in df.select(
                "event_id", F.unix_micros("ts"), "user_id", "event_type", "value").collect())

        out = {}
        got = rows(read_upsert_state(self.spark, str(self.upsert_dir)))
        out["upsert"] = None if got == sorted(self.newest.values()) else f"{len(got)} rows vs {len(self.newest)}"
        roll = {r["day"]: (r["n_events"], r["sum_value"])
                for r in read_rollup_state(self.spark, str(self.rollup_dir)).collect()}
        want = {d: (c, float(s)) for d, (c, s) in self.rollup.items()}
        out["rollup"] = None if roll == want else f"{len(roll)} days vs {len(want)}"
        got = rows(self.table.read(self.spark))
        out["table"] = None if got == sorted(self.keyed.values()) else f"{len(got)} rows vs {len(self.keyed)}"
        return out


class StreamLake:
    def __init__(self, seed: int, cores: int):
        self.seed, self.cores = seed, cores
        self.ops = Ops()

    def setup(self, spark, d: Path) -> float:
        from perfbench.trace import Tracer

        self.dir = d
        self.batches = gen.event_batches(self.seed, BATCHES, BATCH_ROWS, OVERLAP)
        # warm-up: every operation, on a pipeline of its own
        warm = Pipeline(spark, d / "warm",
                        gen.event_batches(self.seed + 1_000_003, WARM_BATCHES, BATCH_ROWS, OVERLAP))
        scratch, off = Ops(), Tracer(spark, False)
        for i in range(WARM_BATCHES):
            warm.batch(i, off, scratch, False)
        if scratch.failed:
            raise RuntimeError(f"warm-up failed: {scratch.errors}")
        return 0.0

    def measure(self, spark, seconds: float, tr_on) -> dict:
        from perfbench.trace import Tracer

        off = Tracer(spark, False)
        self.pipe = Pipeline(spark, self.dir / "live", self.batches)
        t0 = time.perf_counter()
        for i in range(BATCHES):
            # traced: the first batch (the only append) and the odd ones, so
            # the traced and untraced batch latencies (1, 3, 5 against 2, 4)
            # have medians at about the same state size
            traced = tr_on.enabled and (i == 0 or i % 2 == 1)
            self.pipe.batch(i, tr_on if traced else off, self.ops, traced)
        wall = time.perf_counter() - t0
        files, size = self._state()
        dml = [r.seconds for r in self.ops.records if r.kind.startswith("commitlog.") and not r.traced]
        return {
            "items": BATCHES * BATCH_ROWS,
            "items_s": wall,
            "detail": {
                "batches": BATCHES,
                "batch_p50_s": median(self.ops.latencies()),
                "dml_p50_s": median(dml),
                "state_files": files,
                "state_bytes_per_input_byte": size / self.pipe.input_bytes,
            },
        }

    def _state(self) -> tuple[int, int]:
        files = size = 0
        for sub in ("upsert", "rollup", "table"):
            f, s = tree_stats(self.pipe.root / sub)
            files, size = files + f, size + s
        return files, size

    def verify(self, spark) -> None:
        for what, problem in self.pipe.verify().items():
            self.ops.check(f"state.{what}", problem)

    def layers(self, tr) -> dict:
        out = {}
        pipe = self.pipe
        for which, d in (("upsert", pipe.upsert_dir), ("rollup", pipe.rollup_dir)):
            spans = [r for r in tr.spans if r["name"] == f"streaming.sinks.{which}"]
            p = f"streaming.sinks.{which}"
            out[f"{p}.add_batch_s"] = median(r.get("add_batch_s", 0.0) for r in spans)
            out[f"{p}.query_planning_s"] = median(r.get("query_planning_s", 0.0) for r in spans)
            out[f"{p}.jobs_per_batch"] = median(len(r["jobs"]) for r in spans)
            out[f"{p}.state_files"], out[f"{p}.state_bytes"] = tree_stats(d)
            # rows, not bytes: stage inputBytes omit parquet page reads, inputRecords do not
            out[f"{p}.state_read_rows_per_batch"] = median(
                max(r["input_records"] - BATCH_ROWS, 0) for r in spans)
        logs = [r for r in tr.spans if r["name"].startswith("commitlog.")]
        for op in ("append", "merge_upsert_mor", "delete_where_mor", "read", "compact", "vacuum"):
            out[f"commitlog.{op}.s"] = median(r["end"] - r["start"] for r in logs if r["name"] == f"commitlog.{op}")
        out["commitlog.files_written"] = sum(r["files_written"] for r in logs)
        traced_input = sum(pipe.input_bytes / pipe.landed for r in logs
                           if r["name"] in ("commitlog.append", "commitlog.merge_upsert_mor"))
        out["commitlog.bytes_written_per_input_byte"] = (
            sum(r["bytes_written"] for r in logs) / max(traced_input, 1))
        return out
