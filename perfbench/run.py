"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload bulk_extract --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. ``--trace 0`` prints the
end-to-end metrics of an untraced run; ``--trace 1`` prints the per-layer
metrics of a traced run (spans around every layer call plus Spark's event
log). Every output is checked against ``docproc_spark.oracle``. The last
line of standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a JSON
report of the host, the raw samples and the layer details.

All files the run writes (inputs, Spark scratch, event logs, outputs) go
under ``perfbench/.work`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full",
                   help="tiny: the smoke test's input sizes")
    p.add_argument("--corrupt-row", action="store_true",
                   help="corrupt one output row before the check (smoke test)")
    return p.parse_args(argv)


def _environment(work: str) -> str:
    """Point every scratch location of Spark, the JVM and Python into the
    checkout; return the worker PYTHONPATH."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    pythonpath = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYTHONPATH"] = pythonpath  # Python workers import docproc_spark
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    return pythonpath


def _stop_jvm() -> None:
    """Stop any live SparkContext, shut the py4j gateway down and wait for
    the JVM process (the Python workers are its children) to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "docproc_spark", "__init__.py")):
        print(f"perfbench: no docproc_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import host, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, "perfbench", ".work")
    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pythonpath = _environment(work)
    tempfile.tempdir = None  # re-read TMPDIR
    report = {"run_id": f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}",
              "workload": args.workload, "seed": args.seed, "trace": args.trace,
              "size": args.size, "cores": workloads.CORES,
              "host": host.host_record(pythonpath)}
    t0 = time.perf_counter()
    cpu0 = host.cpu_times()
    size = workloads.SIZES[args.workload][args.size]
    wl = workloads.WORKLOADS[args.workload](work, args.seed, size)
    report["staging_s"] = time.perf_counter() - t0
    try:
        with host.RssSampler() as rss:
            if args.trace:
                res = workloads.run_traced(wl, work, args.seconds, args.corrupt_row, report)
            else:
                res = workloads.run_untraced(wl, args.seconds, args.corrupt_row, report)
    finally:
        _stop_jvm()
    if not args.trace:
        res["metrics"]["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    report["peak_rss_mb"] = rss.peak_bytes / 2**20
    report["failed_frac"] = res["failed"] / res["attempted"]
    cpu1 = host.cpu_times()
    report["host"]["run_busy_frac"] = round((cpu1[0] - cpu0[0]) / (cpu1[2] - cpu0[2]), 4)
    report["host"]["run_steal_frac"] = round((cpu1[1] - cpu0[1]) / (cpu1[2] - cpu0[2]), 4)
    report["host"]["busy_frac_end"] = round(host.busy_fraction(), 4)
    report["run_s"] = time.perf_counter() - t0
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in res["metrics"].items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
