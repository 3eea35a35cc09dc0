"""Benchmark driver: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": ...}

Each query is timed end-to-end (plan + execute + collect of the small
result).  A warmup query first touches every table so JVM/codegen startup
is not attributed to q1.

The stdout line is kept compact (the driver's tail capture is ~2000
chars; r7's all-inclusive line outgrew it and the round lost its parsed
perf number).  Full diagnostics — warm medians, net-of-floor timings,
ingest breakdown, loadavg/quiesce readings, per-query errors — are
written to BENCH_DETAIL.json at the repo root and committed (the round
is recorded inside the JSON, not in the filename).
"""

from __future__ import annotations

import json
import os
import sys
import time

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)
# the headline registry entries are the repo benchmark's query_mix list
sys.path.insert(0, os.path.join(_HERE, "perfbench"))

from bulkfhirloader_spark.queries.registry import REGISTRY
from bulkfhirloader_spark.session import get_spark
from workloads import HEADLINE


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line —
    the hypervisor-contention signal loadavg cannot see (r13: two
    gate-PASSING runs read ~65% over a same-code run because the host's
    throughput regime flipped; see SCALE.md round-13).  Sampled before
    and after the run so the artifact records steal%% DURING the
    measurement, not just the ambient reading."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def _steal_pct(ticks_before) -> float | None:
    """Steal%% across the window since ``ticks_before`` (see _cpu_ticks)."""
    after = _cpu_ticks()
    if not ticks_before or not after:
        return None
    d_steal = after[0] - ticks_before[0]
    d_total = after[1] - ticks_before[1]
    return round(100.0 * d_steal / d_total, 2) if d_total > 0 else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0
    # Ambient load BEFORE we start working — the bench's own 32 threads
    # dominate loadavg once queries run, so only the entry reading tells a
    # reader whether the box was already busy (the r5 lesson).
    try:
        load_at_entry = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_at_entry = (-1.0, -1.0, -1.0)
    # QUIESCE (r6 lesson: the official BENCH_r06 was taken at 1-min loadavg
    # 15.6/32cpu — residual pytest/selfcheck JVMs — and understated the
    # engine by ~10%).  Cold numbers are single-shot by design, so ambient
    # load translates directly into the artifact.  Bounded wait: poll until
    # the 1-min loadavg drops below a threshold or the budget runs out,
    # then record both readings and the wait so the artifact is
    # self-describing either way.  Skippable for interactive iteration via
    # SPARK_GRAFT_BENCH_NO_QUIESCE=1.
    # r7 lesson: gating on the 1-min loadavg alone let the r7 run start at
    # 5-min loadavg 6.56 (1-min had dipped to 1.91 between residual-JVM
    # bursts) and the whole cold cohort drifted ~5%.
    # r12 lesson (verdict #5): even max(1m, 0.5·5m) passed a run whose 5m
    # was 3.98 at start — it read +24% over the same-HEAD quiet box.  The
    # gate now requires BOTH averages under their thresholds (the 5m one
    # separately tunable — it drains slowly, so the default budget is
    # 10 minutes; an honest long wait is cheaper than a mis-graded round).
    quiesce_budget = float(os.environ.get("SPARK_GRAFT_QUIESCE_BUDGET_S", "600"))
    quiesce_threshold = float(os.environ.get("SPARK_GRAFT_QUIESCE_LOAD", "2.0"))
    quiesce_threshold_5m = float(
        os.environ.get("SPARK_GRAFT_QUIESCE_LOAD_5M", str(quiesce_threshold))
    )

    # r16 lesson (verdict #1, the round's top ask): the loadavg-only gate
    # passed a run executing at 2.11% hypervisor steal (entry loadavg was
    # fine — steal is OTHER guests' load, invisible to loadavg) and the
    # driver's perf comparison manufactured 16 phantom regressions.  The
    # gate now ALSO samples steal over a short pre-run window and rejects
    # when the box is being robbed; threshold env-tunable, default 1%.
    steal_gate_pct = float(os.environ.get("SPARK_GRAFT_QUIESCE_STEAL_PCT", "1.0"))
    steal_sample_s = float(os.environ.get("SPARK_GRAFT_STEAL_SAMPLE_S", "10"))

    def _steal_window(seconds: float) -> float | None:
        before = _cpu_ticks()
        time.sleep(seconds)
        return _steal_pct(before)

    def _gate_ok(l1: float, l5: float) -> bool:
        return l1 <= quiesce_threshold and l5 <= quiesce_threshold_5m

    waited = 0.0
    steal_pre: float | None = None
    if not os.environ.get("SPARK_GRAFT_BENCH_NO_QUIESCE"):
        t_q = time.monotonic()
        while time.monotonic() - t_q < quiesce_budget:
            try:
                l1, l5, _ = os.getloadavg()
            except OSError:
                break
            if _gate_ok(l1, l5):
                # loadavg is quiet — now check the hypervisor: sample steal
                # over a ~10 s idle window (we are not working yet, so the
                # reading is the ambient regime, not our own load)
                steal_pre = _steal_window(steal_sample_s)
                if steal_pre is None or steal_pre <= steal_gate_pct:
                    break
                continue  # steal-contended: keep waiting out the budget
            time.sleep(5.0)
        waited = round(time.monotonic() - t_q, 1)
    else:
        # even with quiesce skipped, record the ambient steal over a short
        # window so the artifact is self-describing (no gating)
        steal_pre = _steal_window(min(steal_sample_s, 2.0))
    try:
        load_at_start = tuple(round(x, 2) for x in os.getloadavg())
    except OSError:
        load_at_start = (-1.0, -1.0, -1.0)
    # r11 lesson, made unmissable (r12): the r11 driver artifact was taken
    # at 1-min loadavg 9.89 — the quiesce budget ran out — and its inflated
    # cold numbers manufactured three fake per-query regressions that took
    # a verdict section to un-diagnose.  A run that STARTS above the gate
    # is stamped REJECTED-NOISY in both the detail file and the compact
    # stdout line, so a reader can never mistake a loaded-box artifact for
    # a plan regression; the committed quiet-box protocol (bench run at
    # loadavg < 2 after several idle minutes) is the only publishable path.
    noisy_load = load_at_start[0] >= 0 and not _gate_ok(
        load_at_start[0], load_at_start[1]
    )
    # steal gate (r16 verdict #1): a run that STARTS on a steal-contended
    # box is stamped REJECTED-NOISY exactly like a loaded one — the r16
    # driver run (2.11% steal, loadavg clean) is the failure mode.
    noisy_steal = steal_pre is not None and steal_pre > steal_gate_pct
    noisy_run = noisy_load or noisy_steal
    if noisy_run:
        why = []
        if noisy_load:
            why.append(
                f"starting loadavg {load_at_start} exceeds the gate "
                f"(1m<={quiesce_threshold} AND 5m<={quiesce_threshold_5m})"
            )
        if noisy_steal:
            why.append(
                f"pre-run hypervisor steal {steal_pre}% exceeds "
                f"{steal_gate_pct}% (other guests are stealing cycles; "
                f"loadavg cannot see this)"
            )
        print(
            f"bench: REJECTED-NOISY — {'; '.join(why)} after {waited}s of "
            f"quiesce; timings below are contention-inflated and must not "
            f"be compared round-over-round",
            file=sys.stderr,
        )
    ticks_at_start = _cpu_ticks()
    spark = get_spark(app_name="bulkfhirloader-bench")

    # Warmup: force JVM + codegen + parquet footer reads outside the timings.
    # Fail-soft per table: a single broken source must cost its consumers'
    # rows, not the round's entire perf signal (the r4 lesson — one loader
    # regression zeroed BENCH_r04).
    from bulkfhirloader_spark.sources.tables import load_table
    from bulkfhirloader_spark.schemas import TESTDATA_TABLES

    errors: dict[str, str] = {}
    for name in TESTDATA_TABLES:
        try:
            load_table(spark, sf_dir, name).limit(1).collect()
        except Exception as exc:  # noqa: BLE001 — record and move on
            errors[f"warmup:{name}"] = f"{type(exc).__name__}: {exc}"[:300]
    # Prebuild the stored-IVF index during warmup so the timed
    # sim_topk_ivf_stored row measures the probe (pruned read + in-list
    # scoring), not the one-time quantizer build — the headline tracks the
    # query-many half of the train-once/query-many contract.
    try:
        from bulkfhirloader_spark.queries.registry import prebuild_ivf_index

        prebuild_ivf_index(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        errors["warmup:ivf_index"] = f"{type(exc).__name__}: {exc}"[:300]
    # Pre-spawn the Python/Arrow worker pool (r9 verdict, Next round #4):
    # the session's FIRST Arrow exchange pays worker-pool fork + pyarrow/
    # pandas imports inside the workers — measured 4.3 s median of
    # sim_topk_pandas's 7.4 s first-in-session cold, and the reason that
    # row oscillated 1.7-2.4 s across rounds 7-9 (it is the headline's
    # first Arrow query, so it absorbed a box-state-dependent session tax;
    # SCALE.md "`sim_topk_pandas` cold oscillation root-caused" holds the
    # decomposition).  A 1-row
    # identity mapInPandas shares no plan, scan, or broadcast with any
    # timed query — it only spawns the pool, exactly like the per-table
    # scan warmup above — so cold rows now measure their QUERY (codegen +
    # broadcast + compute), comparable across rounds.
    try:
        spark.createDataFrame([(1,)], "x long").mapInPandas(
            lambda it: it, "x long"
        ).collect()
    except Exception as exc:  # noqa: BLE001
        errors["warmup:arrow_pool"] = f"{type(exc).__name__}: {exc}"[:300]

    # Measured empty-job floor: plan + schedule + collect round-trip with no
    # data.  At toy scale every query pays roughly this constant regardless
    # of plan quality; reporting it lets round-over-round deltas track the
    # plans, not JVM scheduling constants.
    floor_samples = []
    for _ in range(5):
        t0 = time.monotonic()
        spark.range(1).collect()
        floor_samples.append(time.monotonic() - t0)
    floor = round(min(floor_samples), 3)

    # Cold = first execution in this JVM (includes per-plan codegen compile,
    # which every fresh process pays once per query shape — inherently a
    # single observation); warm = MEDIAN of 3 re-executions of the identical
    # plan (steady-state plan quality).  r5's "+16% regression" turned out to
    # be ambient machine load on single-shot timings, not code — the median
    # plus the recorded loadavg below make that failure mode visible instead
    # of indistinguishable from a real plan regression.
    timings: dict[str, float] = {}
    warm: dict[str, float] = {}
    for name in HEADLINE:
        try:
            fn, _sql = REGISTRY[name]
            t0 = time.monotonic()
            fn(spark, sf_dir).collect()
            timings[name] = round(time.monotonic() - t0, 3)
            reps = []
            for _ in range(3):
                t0 = time.monotonic()
                fn(spark, sf_dir).collect()
                reps.append(time.monotonic() - t0)
            warm[name] = round(sorted(reps)[1], 3)  # median of 3
        except Exception as exc:  # noqa: BLE001 — one bad query = one lost row
            errors[name] = f"{type(exc).__name__}: {exc}"[:300]

    total = round(sum(timings.values()), 3)
    net = {k: round(max(v - floor, 0.0), 3) for k, v in timings.items()}
    try:
        ingest = bench_ingest(spark, sf)
    except Exception as exc:  # noqa: BLE001
        ingest = None
        errors["ingest"] = f"{type(exc).__name__}: {exc}"[:300]
    # The driver captures only the LAST ~2000 chars of stdout; in r7 the
    # single all-inclusive JSON line outgrew that and the round lost its
    # parsed perf number ("parsed": null).  So: per-query warm/net/floor/
    # ingest/load diagnostics go to a committed BENCH_DETAIL.json file
    # (fixed name — the round lives INSIDE the JSON, avoiding the r8
    # off-by-one where the detail file was numbered one round ahead of
    # the official BENCH_r{N}.json), and stdout ends with ONE compact
    # line (summary scalars + the per-query cold map the driver's
    # documented format asks for) that stays far under the capture limit.
    steal_during_run = _steal_pct(ticks_at_start)
    detail = {
        "metric": "headline_total",
        "round_at_run": _latest_artifact_round(),
        "value": total,
        "unit": "sec",
        "queries": timings,
        "overhead_floor": floor,
        "queries_net_of_floor": net,
        "net_total": round(sum(net.values()), 3),
        "queries_warm": warm,
        "warm_total": round(sum(warm.values()), 3),
        "warm_reps": 3,
        "ingest": ingest,
        "errors": errors,
        "loadavg_at_entry": {"1m": load_at_entry[0],
                             "5m": load_at_entry[1],
                             "15m": load_at_entry[2]},
        "quiesce_wait_sec": waited,
        # the gate's thresholds, recorded so the artifact is
        # self-describing (r12 verdict #5: BOTH averages must pass)
        "quiesce_gate": {"1m_max": quiesce_threshold,
                         "5m_max": quiesce_threshold_5m,
                         "budget_s": quiesce_budget},
        # hypervisor steal DURING the run (r13: the host-regime signal
        # loadavg misses — see SCALE.md round-13 bench caveat); None when
        # /proc/stat is unavailable
        "steal_pct_during_run": steal_during_run,
        # steal over the pre-run idle sample window, and the gate it was
        # checked against (r16 verdict #1)
        "steal_pct_pre_run": steal_pre,
        "steal_gate_pct": steal_gate_pct,
        "loadavg_at_start": {"1m": load_at_start[0],
                             "5m": load_at_start[1],
                             "15m": load_at_start[2],
                             "ncpu": os.cpu_count()},
        # True = the run STARTED above the loadavg gate (quiesce budget
        # exhausted): cold numbers are load-inflated, not comparable
        # round-over-round (the r11 driver artifact's failure mode)
        "noisy_run": noisy_run,
        "sf": sf,
        "notes": {
            # honesty marker (r7 verdict): warm re-runs of the admission
            # query hit the stored-decision memo — by design the at-scale
            # contract is decision-is-a-stored-table — so its warm row
            # measures the decision READ; the full-pipeline number is the
            # cold row.
            "dedup_incremental_admission": "warm = stored-decision read "
            "(admitted-set memo, sameSemantics-confirmed); cold = full "
            "band-join + exact-verify + clustering pipeline",
        },
    }
    detail_path = _detail_path()
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
            fh.write("\n")
    except OSError:
        detail_path = None
    compact = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "net_total": round(sum(net.values()), 3),
        "warm_total": round(sum(warm.values()), 3),
        "ingest_bps": (ingest or {}).get("bundles_per_sec"),
        "errors_n": len(errors),
        "noisy_run": noisy_run,
        # steal% measured ACROSS the run, in the compact line so PERF
        # comparisons can auto-flag contaminated runs (r16 verdict #1:
        # the 2.11%-steal driver run read 16 phantom regressions)
        "steal_pct": steal_during_run,
        "detail": os.path.basename(detail_path) if detail_path else None,
    }
    line = json.dumps(compact)
    if len(line) > 1800:  # paranoid: never outgrow the capture again
        # Don't silently drop the per-query map (the r7 failure mode in
        # miniature) — and keep "queries" the SAME TYPE (name -> seconds
        # object) in every branch so a parser that worked on the happy
        # path never meets a string or a non-timing entry: truncate to the
        # slowest entries, record the cut in separate top-level keys, and
        # point at the detail file (which always carries the full map)
        # when it exists.
        keep = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
        compact["queries"] = keep
        compact["queries_truncated"] = True
        compact["queries_dropped_n"] = len(timings) - len(keep)
        line = json.dumps(compact)
        print("bench: compact line exceeded 1800 chars; per-query map "
              "truncated to the 10 slowest (full map in the detail file "
              "when present)", file=sys.stderr)
    print(line)


def _detail_path() -> str:
    """Repo-root path of the committed per-run detail file.  Fixed name
    BENCH_DETAIL.json: the round is recorded INSIDE the JSON
    ("round_at_run" = highest committed CORRECTNESS/BENCH round at run
    time), never in the filename — naming by round was off by one in r8
    (the driver runs bench after committing CORRECTNESS_r{N}, so a
    "+1"-named detail file pointed one round ahead of the official
    BENCH_r{N}.json it belonged to).  Re-runs overwrite."""
    root = os.path.dirname(os.path.abspath(__file__))
    return os.path.join(root, "BENCH_DETAIL.json")


def _latest_artifact_round() -> int:
    """Highest round number among committed BENCH_r*/CORRECTNESS_r*
    artifacts at run time — recorded inside the detail JSON so a reader
    can tie a detail run to the driver round without filename games.
    During an official end-of-round run this equals the CURRENT round N:
    the driver commits CORRECTNESS_r{N} before running bench (the r8
    off-by-one incident is the evidence), and only BENCH_r{N} itself
    lands after.  Mid-round builder runs see the previous round's
    artifacts, i.e. N-1, until the round's CORRECTNESS lands."""
    import glob
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    rounds = [0]
    for pat in ("BENCH_r*.json", "CORRECTNESS_r*.json"):
        for p in glob.glob(os.path.join(root, pat)):
            m = re.search(r"_r(\d+)\.json$", p)
            if m:
                rounds.append(int(m.group(1)))
    return max(rounds)


def bench_ingest(spark, sf: float) -> dict:
    """Bundle-ingest throughput — the analog of the reference's only
    instrumentation, "N FHIR bundles read in S seconds" (main.go:122,
    main.go:291-293): generate a synthetic bundle corpus (one .json file
    per bundle, patient + conditions, like the reference's input layout),
    run the full pipeline (parse → id assignment → reference rewrite →
    routed resource write → rawstat derivation), report bundles/sec."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from bulkfhirloader_spark.ingest.pipeline import run_pipeline
    from bulkfhirloader_spark.queries.ingest_fixture import (
        SNOMED,
        _condition,
        _patient,
    )

    n_bundles = max(200, int(10_000 * sf)) if sf > 0 else 200
    root = tempfile.mkdtemp(prefix="bfls_bench_ingest_")
    try:
        bdir = os.path.join(root, "bundles")
        os.makedirs(bdir)
        cities = ["Acton", "Boston", "Atlantis", "Concord"]
        codes = ["44054006", "38341003", "99999999"]
        for i in range(n_bundles):
            pat = f"urn:uuid:pat{i}"
            entries = [
                _patient(pat, "male" if i % 2 else "female",
                         f"19{50 + i % 50:02d}-06-01", cities[i % 4])
            ]
            entries += [
                _condition(f"urn:uuid:c{i}_{j}", codes[(i + j) % 3], subject=pat)
                for j in range(i % 4)
            ]
            with open(os.path.join(bdir, f"bundle_{i}.json"), "w") as f:
                json.dump({"resourceType": "Bundle", "type": "transaction",
                           "entry": entries}, f)
        cousub = spark.createDataFrame(
            [("Acton Town", "017", "00100"), ("Boston", "025", "07000"),
             ("Concord", "017", "00200")],
            "cs_name string, ct_fips string, cs_fips string",
        )
        conddim = spark.createDataFrame(
            [(101, 11, "Diabetes", SNOMED, "44054006"),
             (102, None, "Hypertension", SNOMED, "38341003")],
            "condition_id int, disease_id int, condition_name string, "
            "code_system string, code string",
        )
        cousub_path = os.path.join(root, "cousub")
        conddim_path = os.path.join(root, "conddim")
        cousub.write.parquet(cousub_path)
        conddim.write.parquet(conddim_path)
        t0 = time.monotonic()
        counters = run_pipeline(
            spark, bdir, cousub_path, conddim_path, os.path.join(root, "out"),
            as_of=F.lit("2020-01-01").cast("date"),
        )
        elapsed = time.monotonic() - t0
        return {
            "n_bundles": n_bundles,
            "bundles_counted": counters.get("bundles"),
            "seconds": round(elapsed, 3),
            "bundles_per_sec": round(n_bundles / elapsed, 1),
        }
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
