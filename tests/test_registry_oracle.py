"""Differential gate: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 check at a smaller scale factor so failures
surface locally before a round ends. Queries with oracle=None get a
rows-deterministic smoke check instead.
"""

from __future__ import annotations

import pytest

from cve_manager_spark.plans.registry import collect
from tests.conftest import SF_ORACLE
from tests.oracle import compare, duckdb_conn

SPECS = collect()


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_ORACLE)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(SPECS))
def test_query_vs_oracle(spark, con, name):
    spec = SPECS[name]
    df = spec.build(spark, SF_ORACLE)
    if spec.oracle is None:
        # rows-only: must run and have a stable schema
        assert df.columns, f"{name}: no columns"
        assert df.count() >= 0
        return
    problems = compare(df, con, spec.oracle)
    assert not problems, f"{name}: " + " | ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns


def test_registry_consistency():
    import __spark_entry__ as e

    q = e.queries()
    o = e.oracle_sql()
    assert set(o) <= set(q)
    assert q, "registry is empty"


def test_registry_complete_and_ordered():
    """The registry order is exactly plans/order.py's BASE_ORDER: no family
    is silently dropped (the exact query count), no sort reorders the list
    whose 50-entry prefix is sampled for hash checks, and every
    oracle-paired spec precedes the rows-only tail."""
    from cve_manager_spark.plans import registry
    from cve_manager_spark.plans.order import BASE_ORDER

    specs = registry._all_specs()
    assert len(specs) == registry.EXPECTED_QUERY_COUNT
    assert tuple(s.name for s in specs) == BASE_ORDER
    first_rows_only = next((i for i, s in enumerate(specs) if s.oracle is None), len(specs))
    late = [s.name for s in specs[first_rows_only:] if s.oracle is not None]
    assert not late, f"oracle-paired specs after the rows-only tail: {late}"


# spark dtype → acceptable DuckDB type names; the driver's gate records a
# schema comparison, so width mismatches (int vs BIGINT) are treated as
# failures here too.
_TYPE_MAP = {
    "bigint": {"BIGINT"}, "int": {"INTEGER"}, "smallint": {"SMALLINT"},
    "double": {"DOUBLE"}, "float": {"FLOAT"}, "string": {"VARCHAR"},
    "boolean": {"BOOLEAN"}, "date": {"DATE"},
    "timestamp_ntz": {"TIMESTAMP"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE"},
    "array<int>": {"INTEGER[]"}, "array<bigint>": {"BIGINT[]"},
    "array<string>": {"VARCHAR[]"}, "array<double>": {"DOUBLE[]"},
}


@pytest.mark.parametrize("name", sorted(n for n in SPECS if SPECS[n].oracle))
def test_schema_types_align_with_oracle(spark, con, name):
    spec = SPECS[name]
    sdt = dict(spec.build(spark, SF_ORACLE).dtypes)
    rel = con.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0")
    ddt = dict(zip(rel.columns, [str(t) for t in rel.types]))
    problems = [
        f"{col}: spark={st} duck={ddt.get(col)}"
        for col, st in sdt.items()
        if ddt.get(col) not in _TYPE_MAP.get(st, set())
    ]
    assert not problems, f"{name}: " + "; ".join(problems)
