"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's inputs from the
seed in a scratch directory under ``perfbench/`` (removed again at exit),
starts a local Spark session on every core, sets up, then runs the
workload's operations in a closed loop for ``--seconds`` seconds (and at
least the workload's minimum operation count), checking every output.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones.  The line before it, ``{"detail": ...}``, gives the
workload's own named figures and per-layer breakdown, each with its unit
and sample count (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("load_small", "query_mix", "load_large")


def _environment(work: str) -> None:
    """Process environment shared by every workload; set before the JVM
    starts so the driver JVM and the Python workers inherit it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # Python workers import the package from any working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # Spark's default driver heap.  With more room the heap grows to a
    # different size in each run, and peak_rss_mb with it.
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    for p in (ROOT, HERE, os.path.join(ROOT, "scripts")):
        if p not in sys.path:
            sys.path.insert(0, p)


def _stop(spark, proc_tree) -> None:
    """Stop the session and the driver JVM, and wait until every process
    this run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        jvm = getattr(gateway, "proc", None)
        gateway.shutdown()
        if jvm is not None:
            jvm.stdin.close()
            jvm.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(proc_tree.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in proc_tree.pids()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while len(proc_tree.pids()) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def _metrics(run, setup_s: float, get_spark_s: float, proc_tree, jvm_pid: int) -> dict:
    """The end-to-end metrics, or with tracing the per-layer ones, as
    name -> (value, unit)."""
    from probes import peak_rss_bytes
    from workloads import percentile

    n = len(run.op_s)
    if not run.trace:
        return {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(run.op_s), "s"),
            "op_p75_s": (percentile(run.op_s, 75), "s"),
            "cpu_s_per_op": (sum(run.cpu_s) / n, "s"),
            "peak_rss_mb": (proc_tree.peak_rss_bytes() / 2**20, "MB"),
        }
    tot = {k: sum(d[k] for d in run.deltas) for k in run.deltas[0]}
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    source = run.detail.get("ingest.read_bundles_s") or run.detail["sources.load_table_s"]
    return {
        "session.get_spark_s": (get_spark_s, "s"),
        "source.read_s": (source[0], "s"),
        "spark.stages_per_op": (tot["stages"] / n, "count"),
        "spark.tasks_per_op": (tot["tasks"] / n, "count"),
        "spark.executor_cpu_s_per_op": (tot["cpu_ns"] / 1e9 / n, "s"),
        "spark.cpu_util": (tot["cpu_ns"] / 1e9 / (tot["wall_s"] * cores), "ratio"),
        "spark.gc_frac": (tot["gc_ms"] / max(1, tot["run_ms"]), "ratio"),
        "spark.input_mb_per_op": (tot["input_bytes"] / n / 2**20, "MB"),
        "spark.shuffle_mb_per_op": (
            (tot["shuffle_read_bytes"] + tot["shuffle_write_bytes"]) / n / 2**20, "MB"),
        "driver.jvm_peak_rss_mb": (peak_rss_bytes(jvm_pid) / 2**20, "MB"),
        "trace.op_p50_s": (statistics.median(run.op_s), "s"),
        "trace.status_read_s_per_op": (run.meter.read_s / n, "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # the benchmark writes nothing into the tree outside its own directory
    sys.dont_write_bytecode = True

    work = tempfile.mkdtemp(prefix=f".work-{args.workload}-", dir=HERE)
    spark = proc_tree = None
    try:
        _environment(work)
        # imported here: they need the environment above, and a checkout
        # without the package must fail before printing any result
        from bulkfhirloader_spark.session import get_spark
        from probes import ProcTree
        import workloads

        prepare, body = workloads.WORKLOADS[args.workload]
        ctx = prepare(work, args.seed)  # inputs and expected outputs
        proc_tree = ProcTree()
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        })
        get_spark_s = time.perf_counter() - t0
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace), proc_tree)
        body(run, ctx)
        if not run.op_s:
            print("no operation succeeded", file=sys.stderr)
            return 1
        setup_s = run.setup_end - t0
        metrics = _metrics(run, setup_s, get_spark_s, proc_tree, jvm_pid)
    finally:
        if spark is not None:
            _stop(spark, proc_tree)
        shutil.rmtree(work, ignore_errors=True)
    run.report("failed_frac", run.failed / run.attempted, "ratio", run.attempted)
    run.report("op_p50_s", statistics.median(run.op_s), "s", len(run.op_s))
    run.report("setup.get_spark_s", get_spark_s, "s")
    run.report("setup_s", setup_s, "s")
    print(json.dumps({"detail": {k: {"value": v, "unit": u, "n": n}
                                 for k, (v, u, n) in run.detail.items()}}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
