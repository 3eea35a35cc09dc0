"""Per-query cost probe for the benchmark's 19 headline registry queries.

    SPARK_GRAFT_CPUS=4 python scripts/query_probe.py [--passes 3] [--seed 41]

Writes the ``query_mix`` tables with ``perfbench/tables.py`` into a temp
dir, starts a session through ``session.get_spark``, runs one cold pass of
the headline queries, then ``--passes`` warm passes in seed-shuffled order
(as ``query_mix`` does).  Each query is split into three timed phases:

- build: the registry function that returns the DataFrame, with the Py4J
  round trips it makes (``send_command`` calls; eager Spark work done
  while building counts here too).  Py4J's finalizer thread releases the
  JVM references of collected Python objects by its own ``send_command``
  calls whenever it wakes; those are not the query's and are not counted;
- plan: ``queryExecution().executedPlan()``;
- execute: ``collect()``.

It also reads, per query, the stages and tasks that completed (Spark's
status store, as ``perfbench/probes.py`` ``StageMeter`` does) and the
generated classes compiled (``CodegenMetrics``, codegen cache misses).
Prints one markdown row per query with the medians over the warm passes
and the largest round trips and compiles of any one warm pass (so a query
that compiles only now and then shows), then the per-pass totals.  Checks
nothing: ``perfbench/run.py`` does.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
for _p in (ROOT, os.path.join(ROOT, "perfbench")):
    if _p not in sys.path:
        sys.path.insert(0, _p)

from py4j import protocol  # noqa: E402
from py4j.clientserver import ClientServerConnection  # noqa: E402

import tables  # noqa: E402  (perfbench/tables.py)
from probes import StageMeter  # noqa: E402  (perfbench/probes.py)
from workloads import HEADLINE, MIX_SCALE  # noqa: E402  (perfbench/workloads.py)

from bulkfhirloader_spark.queries.registry import REGISTRY  # noqa: E402
from bulkfhirloader_spark.session import get_spark  # noqa: E402

FIELDS = ("build_s", "trips", "plan_s", "exec_s", "stages", "tasks", "compiles")
MAX_FIELDS = ("trips", "compiles")

_TRIPS = [0]
_send = ClientServerConnection.send_command
_RELEASE = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME


def _counting_send(self, command):
    if not command.startswith(_RELEASE):
        _TRIPS[0] += 1
    return _send(self, command)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def probe_one(spark, meter: StageMeter, tdir: str, name: str) -> dict:
    """One query's phases; the status-store and metric reads sit outside
    every timer."""
    meter.mark()
    c0 = _compiles(spark)
    trips0 = _TRIPS[0]
    t0 = time.perf_counter()
    df = REGISTRY[name][0](spark, tdir)
    t1 = time.perf_counter()
    trips = _TRIPS[0] - trips0
    df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    df.collect()
    t3 = time.perf_counter()
    delta = meter.delta()
    return {
        "build_s": t1 - t0, "trips": trips, "plan_s": t2 - t1, "exec_s": t3 - t2,
        "stages": delta["stages"], "tasks": delta["tasks"],
        "compiles": _compiles(spark) - c0,
    }


def run_pass(spark, meter, tdir, order) -> dict[str, dict]:
    return {name: probe_one(spark, meter, tdir, name) for name in order}


def _fmt(field: str, v: float) -> str:
    return f"{v:.3f}" if field.endswith("_s") else f"{v:g}"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--passes", type=int, default=3, help="warm passes (default 3)")
    ap.add_argument("--seed", type=int, default=41, help="table and order seed")
    ap.add_argument("--scale", type=float, default=MIX_SCALE, help="table scale")
    args = ap.parse_args()

    # the benchmark's driver heap, so the JVM matches a query_mix run
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    work = tempfile.mkdtemp(prefix="query_probe_")
    try:
        tdir = os.path.join(work, "tables")
        tables.write_tables(tdir, args.seed, args.scale)
        spark = get_spark(app_name="query-probe")
        ClientServerConnection.send_command = _counting_send
        meter = StageMeter(spark)
        cold = run_pass(spark, meter, tdir, HEADLINE)
        rng = random.Random(args.seed)
        warm = []
        for _ in range(args.passes):
            order = HEADLINE[:]
            rng.shuffle(order)
            warm.append(run_pass(spark, meter, tdir, order))
        spark.stop()
    finally:
        ClientServerConnection.send_command = _send
        shutil.rmtree(work, ignore_errors=True)

    print(f"medians of {args.passes} warm passes after one cold pass "
          f"(seed {args.seed}, scale {args.scale})\n")
    heads = list(FIELDS) + [f"max {f}" for f in MAX_FIELDS]
    print("| query | " + " | ".join(heads) + " |")
    print("|---" * (len(heads) + 1) + "|")
    for name in HEADLINE:
        row = [_fmt(f, statistics.median(p[name][f] for p in warm)) for f in FIELDS]
        row += [_fmt(f, max(p[name][f] for p in warm)) for f in MAX_FIELDS]
        print(f"| `{name}` | " + " | ".join(row) + " |")
    print("\nper pass (sum over the 19 queries):\n")
    print("| pass | " + " | ".join(FIELDS) + " |")
    print("|---" * (len(FIELDS) + 1) + "|")
    for label, p in [("cold", cold)] + [(f"warm {i + 1}", w) for i, w in enumerate(warm)]:
        sums = [sum(q[f] for q in p.values()) for f in FIELDS]
        print(f"| {label} | " + " | ".join(_fmt(f, v) for f, v in zip(FIELDS, sums)) + " |")


if __name__ == "__main__":
    main()
