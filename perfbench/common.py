"""Bookkeeping shared by the workloads: operation records and statistics."""

from __future__ import annotations

import math
import os
import statistics
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    traced: bool = False
    primary: bool = False


@dataclass
class Ops:
    """Every operation attempted in a run. ``primary`` marks the
    closed-loop requests the latency metrics are taken over."""

    records: list[Op] = field(default_factory=list)
    errors: list[str] = field(default_factory=list)

    def add(self, kind: str, seconds: float, ok: bool, traced: bool = False,
            primary: bool = False, error: str | None = None) -> None:
        self.records.append(Op(kind, seconds, ok, traced, primary))
        if not ok:
            self.errors.append(f"{kind}: {error or 'wrong result'}")

    def check(self, kind: str, problem: str | None) -> None:
        """A correctness check that is not itself timed."""
        self.add(kind, 0.0, problem is None, error=problem)

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)

    def latencies(self, traced: bool = False, kind: str | None = None) -> list[float]:
        return [r.seconds for r in self.records
                if r.primary and r.traced == traced and (kind is None or r.kind == kind)]

    def seconds_of(self, kind: str, traced: bool | None = None) -> list[float]:
        return [r.seconds for r in self.records
                if r.kind == kind and (traced is None or r.traced == traced)]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def kind_p50(ops: Ops, traced: bool) -> float:
    """Geometric mean, over the kinds of primary operation (lookup shape,
    query, batch), of each kind's median seconds. Unlike a pooled median
    it does not jump between kinds when their latencies are far apart."""
    meds = [median(ops.latencies(traced, k)) for k in sorted({r.kind for r in ops.records if r.primary})]
    meds = [m for m in meds if m > 0]
    return math.exp(sum(map(math.log, meds)) / len(meds)) if meds else 0.0


def percentile(xs, p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    return xs[min(len(xs) - 1, max(0, math.ceil(p / 100.0 * len(xs)) - 1))]


def tree_stats(root: Path) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    sizes = listing(root)
    return len(sizes), sum(sizes.values())


def listing(root: Path) -> dict[str, int]:
    """Relative path -> size of every file under a directory."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def norm_rows(rows) -> list[tuple]:
    """Collected Spark rows as plain tuples, sorted like the reference."""
    return sorted((tuple(r) for r in rows), key=repr)
