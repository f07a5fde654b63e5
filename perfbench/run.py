#!/usr/bin/env python3
"""Connector benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json,
with ``--trace 1`` its per-layer metrics, names and units as that file
gives them. Lines above it, starting with
``#``, carry the host canary, run notes and, in a traced run, the full
per-layer report of the workload. ``--smoke`` shrinks every input to
about 1% for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = os.path.join(ROOT, ".perfbench_runs")
WATCHDOG_S = 170

_CANARY = """
import time, numpy as np
a = np.ones((1024, 1024))
t0 = time.perf_counter()
for _ in range(8):
    a = a @ a * 1e-3
print(time.perf_counter() - t0)
"""


def unit(name: str) -> str:
    """Unit of a report-only metric, read off its name's suffix (the
    declared metrics take theirs from BENCHMARK.json)."""
    last = name.rsplit(".", 1)[-1]
    for pattern, u in _UNITS:
        if re.search(pattern, last):
            return u
    return "ratio"


_UNITS = [
    (r"per_s$", "1/s"),
    (r"(^|_)ms(_p\d+)?$", "ms"),
    (r"(^|_)us(_|$)", "us"),
    (r"_s$", "s"),
    (r"(_end|^spans)$", "count"),
]


def np_canary() -> float:
    """The fixed single-thread numpy matmul bench.py times: a slow value
    means a slow host, not slow code."""
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    out = subprocess.run([sys.executable, "-c", _CANARY], env=env, check=True,
                         capture_output=True, text=True, timeout=60)
    return float(out.stdout.strip())


def build_spark(run_dir: str):
    """The session a user builds: ``build_session`` plus the eventhubs
    registration. The JVM's scratch and warehouse directories are put in
    the run directory through the launcher's arguments."""
    from spark_eventhubs_spark.session import build_session
    from spark_eventhubs_spark.sources.datasource import register_eventhubs

    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} pyspark-shell")
    spark = build_session("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    register_eventhubs(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM PySpark launched and wait for
    it: the JVM exits on end-of-file on its stdin, and its Python
    workers exit with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_eventhubs_spark")):
        print(f"perfbench: no spark_eventhubs_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "scripts")]
    import workloads
    from spans import Tracer, span_cost_us

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark's Python workers and the producer import the package from
    # the checkout; scratch files stay inside the run directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "tmp")

    canary = np_canary()
    print(f"# host np_canary_s {canary}", flush=True)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark = build_spark(run_dir)
        print(f"[perfbench] {time.perf_counter():8.1f} s  spark up", file=sys.stderr)
        ctx = workloads.Ctx(spark, run_dir, args.seed, args.seconds, tracer, args.smoke)
        res = workloads.WORKLOADS[args.workload](ctx)
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        # inputs, hubs and checkpoints go; the small JSON reports stay
        for name in os.listdir(run_dir):
            p = os.path.join(run_dir, name)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)

    for note in res.notes:
        print(f"# {note}")
    if args.trace:
        layers = dict(res.layers, **{"host.np_canary_s": canary})
        cost = span_cost_us()
        layers["trace.spans"] = len(tracer.spans)
        layers["trace.span_cost_us"] = cost
        report = {
            "workload": args.workload,
            "end_to_end_traced": res.e2e,
            "layers": layers,
            "self_ms": tracer.self_ms(),
        }
        for k, v in sorted(layers.items()):
            print(f"# layer {k} {v} {unit(k)}")
        for k, v in sorted(report["self_ms"].items()):
            print(f"# self_ms {k} {v}")
        tracer.write(os.path.join(run_dir, "spans.json"))
        with open(os.path.join(run_dir, "layers.json"), "w") as fh:
            json.dump(report, fh, indent=1)
        print(f"# report {os.path.join(run_dir, 'layers.json')}")
        declared, values = spec["per_layer"], layers
    else:
        declared, values = spec["end_to_end"], res.e2e
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": int(res.attempted),
        "failed": int(res.failed),
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in declared},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
