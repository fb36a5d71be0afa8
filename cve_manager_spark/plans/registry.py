"""Driver registry: every implemented query name → (Spark builder, oracle SQL).

`__spark_entry__.py` re-exports this as ``queries()`` / ``oracle_sql()``.
Modules append their QuerySpecs at import time; collect() asserts name
uniqueness so a typo can't silently shadow a query.
"""

from __future__ import annotations

from cve_manager_spark.plans.spec import Builder, QuerySpec


# Every query family the registry must expose. A missing module is a hard
# error: silently dropping a family would shrink queries()/oracle_sql() with
# no signal and under-report coverage (numpy/pandas/pyspark.ml are baked into
# the runtime, so an ImportError here is always a real defect).
EXPECTED_QUERY_COUNT = 440


def _all_specs() -> list[QuerySpec]:
    from cve_manager_spark.plans import analytics as analytics_mod
    from cve_manager_spark.plans import corpus as corpus_mod
    from cve_manager_spark.plans import events as events_mod
    from cve_manager_spark.plans import features as features_mod
    from cve_manager_spark.plans import pipeline as pipeline_mod
    from cve_manager_spark.plans import relational
    from cve_manager_spark.plans import sketches as sketches_mod
    from cve_manager_spark.plans import semantic as semantic_mod
    from cve_manager_spark.plans.order import BASE_ORDER

    modules = (
        corpus_mod,
        pipeline_mod,
        events_mod,
        relational,
        features_mod,
        analytics_mod,
        semantic_mod,
        sketches_mod,
    )
    by_name: dict[str, QuerySpec] = {}
    for mod in modules:
        for spec in mod.SPECS:
            if spec.name in by_name:
                raise ValueError(f"duplicate query name: {spec.name}")
            by_name[spec.name] = spec

    # The order is the EXPLICIT list in plans/order.py, not module
    # concatenation: specs can move between modules without reshuffling a
    # prefix sampled from queries(), and a spec registered but not listed
    # (or listed but lost) is a hard error in either direction.
    unlisted = sorted(set(by_name) - set(BASE_ORDER))
    lost = sorted(set(BASE_ORDER) - set(by_name))
    if unlisted or lost:
        raise RuntimeError(
            "registry/order mismatch: "
            f"registered-but-unlisted={unlisted or 'none'}, "
            f"listed-but-missing={lost or 'none'} — add new spec names "
            "to plans/order.py BASE_ORDER when registering them"
        )
    specs = [by_name[name] for name in BASE_ORDER]
    if len(specs) != EXPECTED_QUERY_COUNT:
        raise RuntimeError(
            f"registry expected {EXPECTED_QUERY_COUNT} queries, found {len(specs)} — "
            "a module silently lost specs (update EXPECTED_QUERY_COUNT only with "
            "an intentional registry change)"
        )
    return specs


def collect() -> dict[str, QuerySpec]:
    out: dict[str, QuerySpec] = {}
    for spec in _all_specs():
        if spec.name in out:
            raise ValueError(f"duplicate query name: {spec.name}")
        out[spec.name] = spec
    return out


def queries() -> dict[str, Builder]:
    return {name: spec.build for name, spec in collect().items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in collect().items() if spec.oracle is not None}
