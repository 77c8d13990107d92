"""Benchmark entry point.

    python3 perfbench/run.py --workload sink_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints a run record line (``RUN_RECORD
{...}``) and, as the last line of standard output, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits non-zero when an output check fails or the program is missing.
Everything it writes stays under ``perfbench/_work`` in the checkout.
See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, "_work")
PACKAGE = "kafka_connector_s3_sink_spark"
CORES = 2  # local[2]: fixed, so runs on different hosts do the same work
SHUFFLE_PARTITIONS = 4


def _source_digest() -> str:
    """sha256 over the package's sources: identifies the program when the
    checkout is not a git repository."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def _isolate_environment(work: str) -> None:
    """Point every scratch location (Python, JVM, Spark, workers) inside the
    checkout, and let the Python workers import the package."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    import tempfile

    tempfile.tempdir = tmp


def _start_session(work: str):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{CORES}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.sql.shuffle.partitions", str(SHUFFLE_PARTITIONS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM (and its Python workers) to
    exit: closing the launcher's stdin tells the JVM to shut down."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        pkg = __import__(PACKAGE)
    except ImportError as e:
        print(f"perfbench: cannot import {PACKAGE} from {ROOT}: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        # an installed copy elsewhere would be benchmarked instead of this one
        print(f"perfbench: {PACKAGE} resolves outside {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads
    from perfbench.tracer import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate_environment(work)
    load_before = os.getloadavg()[0]
    nproc = os.cpu_count() or 1

    t = time.perf_counter()
    spark = _start_session(work)
    session_s = time.perf_counter() - t
    import pyarrow
    import pyspark

    ctx = workloads.Context(
        spark=spark,
        work=work,
        inputs=os.path.join(WORK, "inputs"),
        seed=args.seed,
        seconds=args.seconds,
        scale=args.scale,
        cores=CORES,
        session_s=session_s,
        tracer=Tracer() if args.trace else None,
    )
    try:
        result = workloads.WORKLOADS[args.workload](ctx)
    finally:
        if ctx.tracer is not None:
            ctx.tracer.dump(os.path.join(
                WORK, f"trace-{args.workload}-{args.seed}.json"))
        _stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    load_after = os.getloadavg()[0]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "git_commit": _git_commit(),
        "source_digest": _source_digest(),
        "nproc": nproc,
        "master": f"local[{CORES}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "load1_before": load_before,
        "load1_after": load_after,
        "load_flag": load_before > nproc / 2,
        "spark_version": pyspark.__version__,
        "pyarrow_version": pyarrow.__version__,
        "session_start_s": session_s,
        **result.record,
    }
    if record["load_flag"]:
        print(f"perfbench: 1-min load {load_before:.2f} exceeded half of "
              f"{nproc} cores at start; figures may be inflated", file=sys.stderr)
    if result.problems:
        for p in result.problems:
            print(f"perfbench: CHECK FAILED: {p}", file=sys.stderr)
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    metrics = {
        name: {"value": float(result.metrics[name]), "unit": unit}
        for name, unit in units.items()
    }
    correct = not result.problems
    print("RUN_RECORD " + json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": correct,
        "attempted": result.attempted,
        "failed": result.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
