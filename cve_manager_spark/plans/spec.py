"""QuerySpec — one registered engine query.

Each spec pairs a PySpark DataFrame builder with the ANSI-SQL oracle the
driver runs on DuckDB over the same parquet tables (row-count + schema +
order-insensitive value-hash gate, __spark_entry__.py docstring).

Determinism contract (every spec must satisfy it, or ship ``oracle=None``
for a rows-only check):
- no nondeterministic row picks: every LIMIT is preceded by a total order
  (unique tie-break key);
- no floating-point aggregation: double measures are summed as exact
  DECIMAL and cast back (functions.helpers.dec_sum) so results are
  bitwise-identical across engines AND across cluster runs;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    build: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None → rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default=())


def registrar(specs: list[QuerySpec]) -> Callable[..., Callable[[Builder], Builder]]:
    """The ``@_register(name, oracle, doc=..., tags=...)`` decorator of a plans
    module: appends one QuerySpec per decorated builder to ``specs`` (the
    module's SPECS list) and returns the builder unchanged. ``doc`` defaults
    to the builder's docstring."""

    def register(
        name: str, oracle: str | None, doc: str = "", tags: tuple[str, ...] = ()
    ) -> Callable[[Builder], Builder]:
        def deco(fn: Builder) -> Builder:
            specs.append(
                QuerySpec(name=name, build=fn, oracle=oracle, doc=doc or (fn.__doc__ or ""), tags=tags)
            )
            return fn

        return deco

    return register
