"""Hive-style date-partitioned event store: the layout that turns "scan
100 TB" into "scan one day".

`partitionBy("event_date")` writes one directory per day; a reader whose
filter pins the partition column never opens the other directories —
partition PRUNING happens in the driver against directory names, before
any file I/O, visible in the plan as ``PartitionFilters``.  This is the
single biggest scan-reduction lever for append-only event data at 100 TB
(reference analog: none — bulkfhirloader re-reads its whole input every
run, main.go:103).

Two hazards the API here makes explicit:
- PARTITION COUNT: one directory per distinct value.  Dates are safe
  (365/year); never partition by a high-cardinality key (user_id =
  millions of dirs = listing death).  ``repartition(partition_col)``
  before the write yields ONE file per partition instead of
  tasks×partitions small files.
- The partition column must be DERIVED AND STABLE (date(ts)), never a
  free-form string.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_MICROS_PER_DAY = 86_400_000_000


def epoch_day(ts_col: str = "ts"):
    """Timezone-independent day key: integer days since 1970-01-01, derived
    by pure arithmetic on the timestamp's UTC epoch micros
    (``floor(unix_micros(ts) / 86_400e6)``).

    ``to_date(ts)`` on a TIMESTAMP goes through the SESSION timezone — a
    conf any caller (or harness) can flip between plan build and execution,
    silently moving boundary events to the neighboring day.  ``unix_micros``
    reads the stored epoch directly and ``date_from_unix_date`` is calendar
    arithmetic; no timezone is consulted anywhere on this path.
    """
    return F.floor(F.unix_micros(F.col(ts_col)) / F.lit(_MICROS_PER_DAY)).cast("int")


def epoch_day_to_date(day_col):
    """Integer epoch-day -> DATE, tz-free (DateType is a day ordinal)."""
    return F.date_from_unix_date(day_col)


def write_events_partitioned(
    events: DataFrame,
    path: str,
    ts_col: str = "ts",
    mode: str = "error",
) -> None:
    """Write events partitioned by derived ``event_date``.

    The partition value is derived via :func:`epoch_day` (UTC-epoch
    arithmetic), NOT ``to_date(ts)``, so the directory a row lands in can
    never depend on the session timezone.  The pre-write
    ``repartition(event_date)`` makes each day ONE output file (plus makes
    the write's shuffle carry day-clustered rows) — the small-file
    antidote; drop it only if upstream is already day-clustered.
    """
    with_day = events.withColumn("event_date", epoch_day_to_date(epoch_day(ts_col)))
    with_day.repartition(F.col("event_date")).write.mode(mode).partitionBy(
        "event_date"
    ).parquet(path)


def read_events_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Read exactly one day from a partitioned event store.  The equality
    filter on the partition column prunes at PLANNING time — the scan's
    ``PartitionFilters`` carries it and untouched days are never listed
    into tasks (plan-asserted in tests)."""
    return spark.read.parquet(path).where(F.col("event_date") == F.lit(day))


def compact_partitions(
    spark: SparkSession,
    path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str = "event_date",
) -> DataFrame:
    """Small-file compaction plan for a partitioned store: return the store
    re-bucketed so each partition writes ``ceil(rows / target)`` files of
    ~equal size, ready for an overwrite of the compacted copy.

    A streaming ingester writing every few minutes leaves thousands of tiny
    files per day; at 100 TB the file-listing and per-file open costs come
    to dominate the scan.  Compaction = read + repartition + rewrite.  The
    per-partition file count must be DATA-DERIVED: a global
    ``repartition(N)`` either under-splits hot days or shatters cold ones.
    Here each row gets a uniform file slot within its partition —
    ``repartitionByRange`` on (partition, slot) then clusters rows so every
    output file holds one slot of one day, without collecting per-day
    counts to the driver.

    Row->slot assignment is a per-partition uniform hash over the
    partition's own slot count.  The per-day counts come from
    ``groupBy(partition_col).count()`` — map-side partial aggregation, one
    output row per day — broadcast-joined back onto the rows.  (A
    ``count() over (partition by day)`` window would funnel every row of a
    hot day through ONE task just to learn its count — the exact straggler
    compaction exists to fix; the groupBy+broadcast shape never
    materializes a day in one task.)  The range shuffle's task count comes
    from a ``count()`` over the store (parquet-footer row counts; Spark
    still schedules one zero-column scan task per file, cheap but not
    free), sized so one task ~= one target file.
    """
    from math import ceil

    df = spark.read.parquet(path)
    total = df.count()  # row counts from parquet footers (one light task/file)
    num_tasks = max(1, ceil(total / target_rows_per_file))
    day_counts = df.groupBy(partition_col).agg(F.count(F.lit(1)).alias("_n_rows"))
    n_slots = F.greatest(
        F.ceil(F.col("_n_rows") / F.lit(float(target_rows_per_file))),
        F.lit(1).cast("long"),
    )
    slot = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), n_slots)
    return (
        df.join(F.broadcast(day_counts), on=partition_col, how="left")
        .withColumn("_slot", slot)
        .repartitionByRange(num_tasks, F.col(partition_col), F.col("_slot"))
        .drop("_slot", "_n_rows")
        .select(*df.columns)  # the join moved the key first; restore order
    )


def compact_store(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_rows_per_file: int = 1_000_000,
    partition_col: str = "event_date",
) -> None:
    """Materialize the compaction: write the re-bucketed store to
    ``out_path`` with the same Hive layout.  Kept separate from the plan
    builder so tests can assert on the plan/distribution without a write,
    and so callers control the swap (write-new, validate, atomically
    rename) instead of overwriting in place."""
    compact_partitions(
        spark, path, target_rows_per_file, partition_col
    ).write.partitionBy(partition_col).parquet(out_path)
