"""tune() keeps going past a conf the deployment refuses, and says so
once per process instead of passing silently."""

from __future__ import annotations

import logging

from cve_manager_spark import session


def test_tune_warns_once_for_a_refused_conf_and_applies_the_rest(
    spark, monkeypatch, caplog
):
    bad = "spark.sql.parquet.filterPushdown"
    real_set = spark.conf.set
    applied = []

    def set_conf(k, v):
        if k == bad:
            raise RuntimeError("not runtime-settable in this deployment")
        applied.append(k)
        real_set(k, v)

    monkeypatch.setattr(spark.conf, "set", set_conf)
    monkeypatch.setattr(session, "_WARNED", set())
    caplog.set_level(logging.WARNING, logger=session.__name__)
    for _ in range(2):  # two sessions' worth of tune() in one process
        monkeypatch.setattr(session, "_TUNED", set())
        assert session.tune(spark) is spark

    warnings = [r for r in caplog.records if r.levelno >= logging.WARNING]
    assert len(warnings) == 1
    assert bad in warnings[0].getMessage()
    want = set(session.RUNTIME_CONF) | {"spark.sql.shuffle.partitions"}
    assert set(applied) == want - {bad}
    assert len(applied) == 2 * len(want - {bad})
