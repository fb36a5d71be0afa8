"""Benchmark entry point: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload cve_ingest_lookup --seed 1 --seconds 15 --trace 0

Run from the repository root. The benchmark generates the workload's
inputs from the seed, starts the engine on ``local[N]`` (N = usable cores,
at most 4), warms it up, drives a closed loop of calls into the package's public functions for
``--seconds``, checks every output, and prints one JSON object as the
last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` traces every other operation and reports the per-layer
metrics instead (see TRACE.md). Everything the run writes stays under
``.perfbench/`` in the working directory; the detail report and spans of
the last run of each workload are kept there.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def _spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def _cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def _heap() -> str:
    """Driver heap: an eighth of the host's memory, between 1 and 3 GiB."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1024, min(3072, total_kb // 1024 // 8))}m"


class Engine:
    """The Spark session, isolated under one run directory."""

    def __init__(self, run_dir: Path, workload: str, cores: int, trace: bool):
        self.run_dir, self.workload, self.cores, self.trace = run_dir, workload, cores, trace
        self.spark = None
        tmp = run_dir / "tmp"
        tmp.mkdir(parents=True)
        # before pyspark starts: the gateway, Python workers and the
        # engine's persisted artifacts all write under the run directory
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        os.environ["CVE_SPARK_ARTIFACT_DIR"] = str(run_dir / "artifacts")
        os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")

    def start(self):
        from pyspark.sql import SparkSession

        from cve_manager_spark.session import STATIC_CONF, tune

        conf = dict(STATIC_CONF)
        java_opts = " ".join([
            STATIC_CONF.get("spark.driver.extraJavaOptions", ""),
            f"-Djava.io.tmpdir={self.run_dir / 'tmp'}",
            f"-Dderby.system.home={self.run_dir / 'derby'}",
            # a fixed-size heap: no resizing, so peak RSS tracks live data
            f"-Xms{_heap()}",
            "-XX:-UsePerfData",
        ])
        conf.update({
            "spark.driver.memory": _heap(),
            "spark.driver.extraJavaOptions": java_opts,
            "spark.local.dir": str(self.run_dir / "local"),
            "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.driver.host": "localhost",
        })
        b = SparkSession.builder.appName(f"perfbench-{self.workload}").master(f"local[{self.cores}]")
        for k, v in conf.items():
            b = b.config(k, v)
        self.spark = tune(b.getOrCreate())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        """Stop the session and the gateway JVM, and wait for the JVM."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _workload(name: str, seed: int, cores: int):
    from perfbench.analytics import AnalyticsMix
    from perfbench.cve import CveIngestLookup
    from perfbench.stream import StreamLake

    classes = {"cve_ingest_lookup": CveIngestLookup, "analytics_mix": AnalyticsMix,
               "stream_lake": StreamLake}
    if name not in classes:
        raise ValueError(f"unknown workload {name!r}; choose from {sorted(classes)}")
    return classes[name](seed, cores)


def run(args) -> dict:
    from perfbench.common import kind_p50, percentile
    from perfbench.trace import Jvm, Tracer, host_load

    cores = _cores()
    out_dir = Path.cwd() / ".perfbench"
    run_dir = out_dir / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    if run_dir.exists():
        shutil.rmtree(run_dir)
    wl = _workload(args.workload, args.seed, cores)
    engine = Engine(run_dir, args.workload, cores, bool(args.trace))
    try:
        spark = engine.start()
        excluded = wl.setup(spark, run_dir / "work")
        setup_s = time.perf_counter() - T_START - excluded
        jvm = Jvm(spark)
        tracer = Tracer(spark, bool(args.trace))
        load0, gc0, (cg0, _) = host_load(), jvm.gc_s(), jvm.codegen()
        t_measure = time.perf_counter()
        res = wl.measure(spark, args.seconds, tracer)
        measured_s = time.perf_counter() - t_measure
        load1, gc1, (cg1, cg_mean_ms) = host_load(), jvm.gc_s(), jvm.codegen()
        wl.verify(spark)
        ops = wl.ops
        primary = ops.latencies(traced=False)
        e2e = {
            "setup_s": setup_s,
            "op_p50_s": kind_p50(ops, traced=False),
            "items_per_s": res["items"] / res["items_s"],
            "peak_rss_mb": jvm.peak_rss_mb(),
        }
        layers = {}
        if args.trace:
            tracer.attribute()
            layers = wl.layers(tracer)
            layers["jvm.codegen.compiles"] = cg1 - cg0
            layers["jvm.codegen.compile_s"] = (cg1 - cg0) * cg_mean_ms / 1000.0
            layers["jvm.gc_s"] = gc1 - gc0
            layers["trace.overhead_s"] = kind_p50(ops, traced=True) - e2e["op_p50_s"]
            tracer.dump(str(out_dir / f"spans-{args.workload}.json"))
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "cores": cores, "heap": _heap(),
            "measured_s": measured_s, "primary_ops": len(primary),
            "op_p90_s": percentile(primary, 90),
            "ops_failed_ratio": ops.failed / max(ops.attempted, 1),
            "steal_s": (load1["steal_ticks"] - load0["steal_ticks"]) / os.sysconf("SC_CLK_TCK"),
            "loadavg_1m": [load0["loadavg_1m"], load1["loadavg_1m"]],
            "workload_metrics": res.get("detail", {}),
            "errors": ops.errors[:20],
            "end_to_end": e2e, "per_layer": layers,
        }
        with open(out_dir / f"report-{args.workload}.json", "w") as f:
            json.dump(detail, f, indent=1, default=str)
        print(json.dumps({k: v for k, v in detail.items() if k != "per_layer"}, default=str),
              file=sys.stderr)
        if args.trace:
            # a layer this workload never calls into did no work: it reads 0
            declared, values = _spec()["per_layer"], lambda name: layers.get(name, 0.0)
        else:
            declared, values = _spec()["end_to_end"], e2e.__getitem__
        return {
            "correct": ops.failed == 0,
            "attempted": ops.attempted,
            "failed": ops.failed,
            "metrics": {m["name"]: {"value": float(values(m["name"])), "unit": m["unit"]}
                        for m in declared},
        }
    finally:
        engine.stop()
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not (ROOT / "BENCHMARK.json").is_file() or not (ROOT / "cve_manager_spark" / "__init__.py").is_file():
        print("perfbench: run from a checkout that holds the cve_manager_spark package "
              "and BENCHMARK.json", file=sys.stderr)
        return 2
    try:
        result = run(args)
    except Exception:
        traceback.print_exc()
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.path.insert(0, str(ROOT))
    sys.exit(main())
