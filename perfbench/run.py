#!/usr/bin/env python3
"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout; the benchmark measures the package of
the checkout it sits in. Progress and host figures go to stderr. The
last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric (`--trace 0`) or every per-layer metric
(`--trace 1`) by name, each as {"value", "unit"}. Workloads, metrics and
the layer map are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve", "curate")
DRIVER_MEMORY = "3g"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _environment(work: str) -> None:
    """Pin what the measurement depends on, before Spark starts: the
    worker import path, core count, heap, and every scratch directory
    (inside the checkout)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # compiler threads that live for the whole run, so the CPU time the
    # JIT spends can be told apart from the program's (harness.tree_cpu_ms)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    import tempfile

    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def _start_spark(work: str):
    from leann_rs_spark.session import get_spark

    spark = get_spark(
        app_name="leann-rs-spark-perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        },
    )
    # driver and Python workers must both import the package from this
    # checkout, or the benchmark measures some other tree
    import leann_rs_spark

    want = os.path.dirname(os.path.abspath(leann_rs_spark.__file__))
    got = spark.sparkContext.parallelize([0], 1).map(
        lambda _: __import__("os").path.dirname(
            __import__("os").path.abspath(__import__("leann_rs_spark").__file__)
        )
    ).collect()[0]
    if not (want == got == os.path.join(ROOT, "leann_rs_spark")):
        raise RuntimeError(f"package imported from {want} (driver) / {got} (worker), not {ROOT}")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    for need in ("leann_rs_spark/__init__.py", "__spark_entry__.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}", file=sys.stderr)
            return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _environment(work)

    from perfbench.harness import Run, cpu_ticks, steal_pct
    from perfbench.metrics import END_TO_END, PER_LAYER

    ticks0 = cpu_ticks()
    t0 = time.perf_counter()
    spark = _start_spark(work)
    start_s = time.perf_counter() - t0
    try:
        r = Run(spark, args.seed, args.seconds, bool(args.trace), work)
        r.layer["session.start_s"] = start_s
        if args.workload == "serve":
            from perfbench.serve import Serve as Workload
        else:
            from perfbench.curate import Curate as Workload
        e2e = Workload(r).run()
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        r.layer["session.peak_rss_mb"] = _peak_rss_mb(os.getpid()) + (
            _peak_rss_mb(jvm.pid) if jvm is not None else 0.0
        )
    finally:
        _stop_spark(spark)

    host = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "steal_pct": round(steal_pct(ticks0, cpu_ticks()), 2),
        "timed_round_s": [round(x, 2) for x in r.round_s],
        "load_avg_1_5_15": [round(x, 2) for x in os.getloadavg()],
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "failures": r.failures[:20],
    }
    print(f"perfbench host: {json.dumps(host)}", file=sys.stderr)
    runs_dir = os.path.join(ROOT, ".bench_work", "runs")
    os.makedirs(runs_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(runs_dir, f"{stem}.json"), "w") as fh:
        samples = {k: [round(x.wall_ms, 1) for x in v] for k, v in r.samples.items()}
        cpu = {k: [round(x.cpu_ms, 1) for x in v] for k, v in r.samples.items()}
        json.dump({**host, "e2e": e2e, "layer": r.layer, "samples_ms": samples,
                   "cpu_ms": cpu}, fh, indent=1)
    if args.trace:
        r.tracer.write(os.path.join(runs_dir, f"{stem}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    names = PER_LAYER if args.trace else END_TO_END
    values = r.layer if args.trace else e2e
    metrics = {n: {"value": float(values.get(n, 0.0)), "unit": u} for n, u in names.items()}
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
