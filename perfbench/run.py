"""Benchmark entry point.

    python3 perfbench/run.py --workload index|keyphrase \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The benchmark imports ``pke_spark``
from that checkout only (driver and Python workers; see guard.py),
keeps every index, shuffle, temp and event-log file under one per-run
directory inside the checkout, and removes it at exit. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). The exit code is 1 if any operation failed or any
answer was wrong, 2 if the tree under test is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "BENCHMARK.json")


def _cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def _isolate(tmp: str) -> None:
    """Point every temp location of this process, the JVM and the Python
    workers into ``tmp`` and put the checkout on the workers' path.
    Must run before pyspark starts the JVM."""
    for d in ("local", "java", "py"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["TMPDIR"] = os.path.join(tmp, "py")
    tempfile.tempdir = os.environ["TMPDIR"]
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # the spark-submit launcher JVM reads no Spark conf: keep its perf
    # data file and temp files out of the system temp dir too
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(tmp, 'java')}")
    sys.path.insert(0, ROOT)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pke_spark", "__init__.py")):
        print(f"perfbench: no pke_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    with open(BENCH) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload}")

    tmp = tempfile.mkdtemp(prefix=".perfbench_run_", dir=ROOT)
    try:
        _isolate(tmp)
        from perfbench import eventlog, workloads
        from perfbench.guard import check_driver
        check_driver(ROOT)

        run = workloads.Run(args.seed, args.seconds, bool(args.trace), ROOT,
                            tmp)
        cpu0 = _cpu_times()
        t0 = time.perf_counter()
        if args.trace:
            workloads.install_wrappers(run.tracer)
        try:
            workloads.WORKLOADS[args.workload](run)
            wall = time.perf_counter() - t0
        finally:
            run.tracer.restore()
            run.stop_session()
        cpu1 = _cpu_times()
        run.extra["steal_share"] = (cpu1[1] - cpu0[1]) / max(
            cpu1[0] - cpu0[0], 1)
        if args.trace:
            run.extra["eventlog"] = eventlog.read_dir(
                os.path.join(tmp, "eventlog"), workloads.PHASES)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    led = run.ledger
    print("perfbench: " + json.dumps(
        {k: v for k, v in run.extra.items() if k != "eventlog"}),
        file=sys.stderr)
    if args.trace:
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        values = workloads.layer_metrics(run, wall)
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        values = dict(run.e2e)
        values["ok_ratio"] = led.ok_ratio
        values["driver_peak_rss_mb"] = resource.getrusage(
            resource.RUSAGE_SELF).ru_maxrss / 1024.0
    missing = [n for n, _u in names if n not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": {n: {"value": float(values[n]), "unit": u}
                    for n, u in names},
    }))
    return 0 if led.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
