"""Spans and engine counters, read from outside the package.

A :class:`Tracer` records a span (name, start, end, parent, request id)
around each call the benchmark makes into a layer. A span that runs Spark
work gets its own job group, so the jobs it launched are exactly
``StatusTracker.getJobIdsForGroup(group)``; their stage metrics come from
the UI REST API. Spans stay in memory until :meth:`Tracer.dump`.

With tracing off every ``span`` is a no-op and no job group is set, so
the untraced run pays nothing for it. :class:`Jvm` reads the counters the
end-to-end report needs in both modes: GC time, codegen, storage, RSS.
"""

from __future__ import annotations

import json
import os
import resource
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._stage_cache: dict[int, dict] = {}
        self._next = 0

    @contextmanager
    def span(self, name: str, request=None, spark: bool = False, **attrs):
        """Record one span. ``spark=True`` tags its jobs with a job group of
        its own; job groups are set on leaf spans only, so a job belongs to
        exactly one span."""
        if not self.enabled:
            yield None
            return
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next,
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            **attrs,
        }
        group = f"perfbench-{self._next}" if spark else None
        if group:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
                rec["group"] = group
            self.spans.append(rec)

    # -- job and stage attribution --------------------------------------

    def _drain(self) -> None:
        # the status store is fed by the listener bus; wait for it to catch up
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        self._drain()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def _stage(self, sid: int) -> dict:
        if sid in self._stage_cache:
            return self._stage_cache[sid]
        url = (
            f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
            f"/stages/{sid}?details=false"
        )
        deadline = time.monotonic() + 5.0
        while True:
            with urllib.request.urlopen(url, timeout=10) as r:
                attempts = json.load(r)
            done = all(a["status"] in ("COMPLETE", "SKIPPED", "FAILED") for a in attempts)
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        keys = ("executorRunTime", "jvmGcTime", "shuffleWriteBytes", "memoryBytesSpilled",
                "diskBytesSpilled", "inputBytes", "inputRecords", "numCompleteTasks")
        out = {k: sum(a.get(k, 0) for a in attempts) for k in keys}
        if done:
            self._stage_cache[sid] = out
        return out

    def stage_totals(self, job_ids: list[int]) -> dict[str, float]:
        """Summed stage metrics of the given jobs (seconds and bytes)."""
        tot = {"executor_run_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "input_bytes": 0, "input_records": 0, "tasks": 0}
        seen: set[int] = set()
        for jid in job_ids:
            info = self.sc.statusTracker().getJobInfo(jid)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._stage(int(sid))
                tot["executor_run_s"] += s["executorRunTime"] / 1000.0
                tot["gc_s"] += s["jvmGcTime"] / 1000.0
                tot["shuffle_write_bytes"] += s["shuffleWriteBytes"]
                tot["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                tot["input_bytes"] += s["inputBytes"]
                tot["input_records"] += s["inputRecords"]
                tot["tasks"] += s["numCompleteTasks"]
        return tot

    def attribute(self) -> None:
        """Attach job ids and stage totals to every span that ran Spark."""
        for rec in self.spans:
            if "group" in rec and "jobs" not in rec:
                rec["jobs"] = self.job_ids(rec["group"])
                rec.update(self.stage_totals(rec["jobs"]))

    # -- reporting -------------------------------------------------------

    def dump(self, path: str) -> None:
        """Write every span with its self time: its duration minus the
        union of its children's intervals."""
        children: dict[int, list[dict]] = {}
        for rec in self.spans:
            if rec["parent"] is not None:
                children.setdefault(rec["parent"], []).append(rec)
        out = []
        for rec in sorted(self.spans, key=lambda r: r["start"]):
            covered, cursor = 0.0, rec["start"]
            for c in sorted(children.get(rec["id"], []), key=lambda r: r["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], rec["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out.append({**rec, "dur_s": rec["end"] - rec["start"],
                        "self_s": rec["end"] - rec["start"] - covered})
        with open(path, "w") as f:
            json.dump(out, f, indent=1, default=str)


class Jvm:
    """Counters of the driver JVM, read over py4j."""

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def codegen(self) -> tuple[int, float]:
        """(compiles so far, mean compile ms of the metric's reservoir)."""
        h = self.jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        return int(h.getCount()), float(h.getSnapshot().getMean())

    def storage(self) -> tuple[int, int]:
        """(cached RDD partitions, bytes in memory plus on disk)."""
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return (sum(int(i.numCachedPartitions()) for i in infos),
                sum(int(i.memSize()) + int(i.diskSize()) for i in infos))

    def peak_rss_mb(self) -> float:
        """Peak resident set of the driver JVM plus this Python process."""
        with open(f"/proc/{self.pid}/status") as f:
            hwm = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        return (hwm + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def host_load() -> dict:
    """Stolen CPU ticks so far and the 1-minute load average."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return {"steal_ticks": int(cpu[8]) if len(cpu) > 8 else 0,
            "loadavg_1m": os.getloadavg()[0]}
