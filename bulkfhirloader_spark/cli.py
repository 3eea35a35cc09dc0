"""CLI driver — entry point 1 of the reference (main.go:27-133), Spark-form.

Phase-for-phase parity:
  flags          main.go:29-49   (-path/-mongo/-dbname/-pgurl/-workers/
                                  -reset/-debug → the flags below; storage
                                  URLs become directory roots in test mode)
  connect        main.go:54-70   (SparkSession instead of Mongo+PG handles)
  reset          main.go:72-78   (fact truncation ALWAYS runs — overwrite
                                  mode; --reset additionally drops the
                                  document store, K5)
  dim load       main.go:83-93   (broadcast-joined DataFrames)
  fan-out ingest main.go:99-121  (partitioned file scan; the wg.Wait()
                                  barrier is the write action completing)
  stats phase    main.go:125-132 (three fact pipelines over rawstat)
  timing log     main.go:285-299 (--debug, F11)
"""

from __future__ import annotations

import argparse
import os
import time

from pyspark.sql import functions as F

from bulkfhirloader_spark.ingest.pipeline import run_pipeline
from bulkfhirloader_spark.operators import stats
from bulkfhirloader_spark.session import get_spark
from bulkfhirloader_spark.sinks.facts import drop_collections, write_facts


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="bulkfhirloader-spark",
        description="Load FHIR bundles, derive rawstat, compute fact tables.",
    )
    p.add_argument("--path", required=True, help="bundle directory (recursive, *.json)")
    p.add_argument("--cousub-dim", required=True, help="county-subdivision dim parquet")
    p.add_argument("--condition-dim", required=True, help="tracked-condition dim parquet")
    p.add_argument("--out", required=True, help="document-store root (resources/ rawstat/)")
    p.add_argument("--facts-out", required=True, help="fact-table root (always truncated)")
    p.add_argument("--reset", action="store_true",
                   help="drop the document store first (K5; facts truncate regardless)")
    p.add_argument("--workers", type=int, default=None,
                   help="local[N] cores (reference -workers; default all)")
    p.add_argument("--as-of", default=None,
                   help="pin the age-computation date (YYYY-MM-DD); default today")
    p.add_argument("--debug", action="store_true", help="print counters and timings")
    return p


def main(argv: list[str] | None = None) -> dict:
    args = build_parser().parse_args(argv)
    t0 = time.monotonic()
    spark = get_spark(
        app_name="bulkfhirloader-cli",
        master=f"local[{args.workers}]" if args.workers else None,
    )
    if args.reset:  # K5 (main.go:76-78)
        drop_collections(os.path.join(args.out, "resources"))

    as_of = (
        F.lit(args.as_of).cast("date") if args.as_of else F.current_date()
    )
    counters = run_pipeline(
        spark, args.path, args.cousub_dim, args.condition_dim, args.out, as_of=as_of
    )
    t_ingest = time.monotonic()

    rawstat = spark.read.parquet(os.path.join(args.out, "rawstat"))
    # stats phase (main.go:125-132); write_facts overwrites = K4 truncation
    write_facts(stats.population_facts(rawstat),
                os.path.join(args.facts_out, "pop_facts"))
    write_facts(stats.disease_facts(rawstat),
                os.path.join(args.facts_out, "disease_facts"))
    write_facts(stats.condition_facts(rawstat),
                os.path.join(args.facts_out, "condition_facts"))
    t_stats = time.monotonic()

    result = {
        "bundles": counters["bundles"],
        "corrupt_bundles": counters["corrupt_bundles"],
        "ingest_sec": round(t_ingest - t0, 3),
        "stats_sec": round(t_stats - t_ingest, 3),
    }
    if args.debug:  # F11 (main.go:122-132, main.go:291-293)
        print(
            f"{result['bundles']} FHIR bundles read in {result['ingest_sec']} "
            f"seconds ({result['corrupt_bundles']} corrupt files quarantined); "
            f"stats in {result['stats_sec']} seconds"
        )
    return result


if __name__ == "__main__":
    main()
