"""Artifact stores for spec builders: in-process frozen values and
on-disk scratch state.

The drift monitor's (mu, v) top-PC direction and the incremental-dedup /
incremental-IVF codebooks are FROZEN artifacts in the contract their
specs model: a periodic batch job trains them, every query and
streaming gate then applies them map-side without retraining (the
streaming twins in ``streaming/monitor.py`` / ``streaming/sinks.py``
take them as arguments for exactly this reason). Re-training inside
every spec invocation mispriced the steady-state query ~5× in the
bench (VERDICT r10 — ``embedding_drift_buckets`` and
``semantic_dedup_frozen_keep`` were the two most expensive headliners,
each dominated by its training passes).

This memo is the in-process stand-in for that artifact store. Caching
is safe because every recipe here is exact-integer deterministic (the
kmeans/PCA pipelines are floor-arithmetic over quantized vectors — same
input → bit-identical artifact) and the cached value is O(d) / O(k·d)
Python ints, never a DataFrame; the DuckDB oracle recomputes the
artifact independently, so a stale cache would FAIL the hash gate, not
silently pass. Keys must include the sf dir plus every training
parameter. Specs whose priced contract includes training
(``semantic_dedup_keep``, the ann_* faces) must NOT use this.

:func:`scratch` is the on-disk half: the small commit-logged lakes,
catalog trees and drained stream states that the time-travel, catalog
and two-stream faces read. Each is built once and reused from
``$TMPDIR/cve_spark_{kind}_{slug}_{digest}``, where ``digest`` hashes
every ``cve_manager_spark`` source file, so state that other code built
is never served. A build runs in a private directory, writes ``_done``
last and is published by one rename; a root therefore exists only
complete, and a racing builder that loses the rename just uses the
winner's. Nothing is ever swept: a published root is never deleted,
because a concurrent run of other code (an older checkout in an A/B
comparison, say) may still be reading its own roots. Roots of old
digests are removed by hand.
"""

from __future__ import annotations

import functools
import hashlib
import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable, TypeVar

T = TypeVar("T")

_STORE: dict[tuple, object] = {}


def frozen(key: tuple, train: Callable[[], T]) -> T:
    """Return the artifact under ``key``, training it on first use."""
    if key not in _STORE:
        _STORE[key] = train()
    return _STORE[key]  # type: ignore[return-value]


@functools.cache
def _code_digest() -> str:
    """Short sha1 of the package's source: names and bytes of every .py."""
    pkg = Path(__file__).resolve().parents[1]
    h = hashlib.sha1()
    for p in sorted(pkg.rglob("*.py")):
        h.update(str(p.relative_to(pkg)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def scratch(kind: str, sf: str, build: Callable[[Path], None]) -> Path:
    """Return the published scratch root for (``kind``, ``sf``) under
    this code version, running ``build(work)`` into a private directory
    and publishing it on first use."""
    slug = sf.strip("/").replace("/", "_").replace(".", "_")
    name = f"cve_spark_{kind}_{slug}_{_code_digest()}"
    root = Path(tempfile.gettempdir()) / name
    if (root / "_done").exists():
        return root
    # beside the root: the publishing rename must not cross filesystems
    work = Path(
        tempfile.mkdtemp(prefix=f"cve_spark_{kind}_build_", dir=root.parent)
    )
    try:
        build(work)
        (work / "_done").write_text("ok")
        try:
            os.replace(work, root)
        except OSError:
            if not (root / "_done").exists():
                raise
            # a concurrent builder published a complete root first
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return root
