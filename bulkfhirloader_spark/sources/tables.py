"""Testdata / dimension table sources.

Relational dim scans in the reference (S3/S4, main.go:137-202) read Postgres
into driver-side hash maps that are then replicated to every worker by
closure capture (main.go:108).  The Spark-native equivalent is: read the dim
as a DataFrame (JDBC in prod, parquet in tests) and let the planner
broadcast it — small dims never shuffle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.schemas import TESTDATA_TABLES


# DataFrame handles are immutable lazy plans — reusing one is the engine's
# catalog cache (a metastore's job): it skips the per-call file listing +
# parquet footer/schema read, which measures 0.1-0.2 s of driver time per
# table per query.  A handle belongs to the session that read it, so the
# session is in the key: one entry per (session, sf_dir, table).  Plain
# read handles, so nothing to release on eviction.
_TABLES = reuse.Memo(64, release=None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One driver-generated parquet table (TESTDATA.md)."""

    def read() -> DataFrame:
        if name == "events":
            return load_events(spark, os.path.join(sf_dir, "events.parquet"))
        return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))

    return _TABLES.get_or_build(spark, (spark, sf_dir, name), read)


def load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load events.parquet with a dtype-adaptive ``ts`` normalization.

    The testdata generator has shipped two physical encodings of ``ts``:

    - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it
      (PARQUET_TYPE_ILLEGAL) unless ``spark.sql.legacy.parquet.nanosAsLong``
      is on, in which case it surfaces as a raw-nanos LongType.  Truncate to
      microseconds — exactly what DuckDB does reading the same file (its
      TIMESTAMP is µs) — so oracle comparisons agree.
    - plain ``timestamp[us]`` (no UTC adjustment): Spark reads it as
      TIMESTAMP_NTZ.  Cast to TIMESTAMP so every downstream consumer
      (``unix_micros``, ``F.window``, ``session_window``) sees one type; in
      the UTC session (session.py) the cast is epoch-preserving and matches
      DuckDB's naive-timestamp semantics.

    Either way callers always get a TimestampType ``ts`` with µs precision.
    """
    # Harmless for µs files (the conf only affects TIMESTAMP(NANOS) columns),
    # required before the read for legacy nanos files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # The NTZ->TIMESTAMP cast below interprets the naive wall-clock in the
    # SESSION timezone; DuckDB treats the same values as-is.  Pin UTC here
    # (runtime-settable, idempotent — same move as queries._utc) so the
    # epoch is caller-session-independent and the oracles always agree.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        # `div` is exact integral division on longs; `/` would round-trip
        # through double and lose sub-µs precision on ~1.7e18 ns epochs.
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TESTDATA_TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every testdata table as a temp view for spark.sql use."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def read_dim_jdbc(
    spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None
) -> DataFrame:
    """Production dim scan (S3/S4): one small JDBC read on the driver side of
    the plan; callers wrap in F.broadcast for the J1/J2 joins."""
    return spark.read.jdbc(url, table, properties=properties or {})
