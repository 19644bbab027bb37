"""Search-engine benchmark: one named workload, one JSON result line.

    python3 searchbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

Run from the root of a checkout of the repository. The benchmark
builds its own inputs from ``--seed``, starts one Spark session on
``local[2]`` (driver memory from ``SPARK_DRIVER_MEM``, default 2g),
runs the workload's fixed amount of work (``--seconds`` is the
expected length of its measured phase; three times it aborts the
phase), checks every result it can
against an independent reference, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Everything it writes stays under ``.searchbench/`` in
the working directory; spans of a traced run are kept there as JSON
lines. Exit code 2 means the engine could not be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> str:
    """Point every scratch location of Python, the JVM and Spark into
    the run's work directory; returns the temp directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return tmp


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "nadry_spark")):
        print("searchbench: run from the repository root (no nadry_spark/ here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".searchbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = isolate(work)
    sys.path[:0] = [HERE, root]
    try:
        from nadry_spark import session
    except ImportError as e:
        print(f"searchbench: cannot import the engine: {e}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 2
    import tracing
    import workloads

    t0 = time.perf_counter()
    spark = session.get_spark(
        app_name="searchbench",
        # two task slots on a four-core machine: the Python workers, the
        # JVM's compiler and GC threads and this driver get the other two,
        # so a stage's wall does not wait on a task starved of a core
        master="local[2]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": tmp,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    session_s = time.perf_counter() - t0
    tracer = tracing.Tracer(spark, enabled=bool(args.trace))
    run = workloads.Run(spark, tracer, args.seed, args.seconds, work, session_s)
    try:
        if tracer.enabled:
            workloads.install_spans(tracer)
        e2e, layers, summary = workloads.WORKLOADS[args.workload](run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        tracer.unwrap_all()
        if tracer.enabled:
            tracer.write(os.path.join(root, ".searchbench", f"trace-{args.workload}-{args.seed}.jsonl"))
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = run.outcome()
    for line in run.problems:
        print(f"searchbench: wrong: {line}", file=sys.stderr)
    print(f"searchbench: {args.workload} seed {args.seed}: {summary}", file=sys.stderr)
    if tracer.enabled:
        names, values = workloads.PER_LAYER, {**layers, "failed_frac": failed / max(attempted, 1)}
    else:
        names, values = workloads.END_TO_END, e2e
    metrics = {}
    for name, unit in names.items():
        v = float(values.get(name, 0.0))  # a layer the workload leaves idle reads 0
        metrics[name] = {"value": v if math.isfinite(v) else 0.0, "unit": unit}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
