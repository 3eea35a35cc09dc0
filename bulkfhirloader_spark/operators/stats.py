"""The reference's three statistics pipelines (db.go:79-358), re-expressed
as DataFrame programs over a rawstat-schema DataFrame.

Each MQL stage maps 1:1 onto a Catalyst logical operator:
$match → Filter, $unwind → Generate(explode), $project → Project,
$group/$sum → Aggregate — so Catalyst gets full freedom to push filters
below the explode and prune columns into the scan.  Each pipeline's fixed
expression trees are built once per JVM (_fact_columns) and reused by
every call.

Correctness gotchas preserved deliberately (SURVEY §4.3):
- alive = deceasedboolean missing-or-false (db.go:93-98) → NULL-coalescing.
- agerange is the hard-coded constant 1 from bundle.go:90; group keys use it
  verbatim.  ``population_facts_binned`` is the clearly-named "obviously
  intended" variant with real age buckets.
- unwind of uniquediseases/uniqueconditions then `> 0` filter drops
  untracked (0) and null-disease (−999) ids (db.go:192, db.go:287).
- a patient is counted once per distinct disease/condition because the
  unwound arrays are already distinct sets (bundle.go:24-51; doc comments
  db.go:169-170).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bulkfhirloader_spark.functions.binding import per_jvm
from bulkfhirloader_spark.functions.scalars import alive_filter, gender_flag


def population_facts(rawstat: DataFrame) -> DataFrame:
    """db.go:79-167: $match alive → $project flags → $group (cs_fips, agerange)."""
    return _facts(rawstat)


def disease_facts(rawstat: DataFrame) -> DataFrame:
    """db.go:171-262: $match alive → $unwind uniquediseases → $match > 0 →
    $project flags → $group (cs_fips, disease_id, agerange)."""
    return _facts(rawstat, "uniquediseases", "disease_id")


def condition_facts(rawstat: DataFrame) -> DataFrame:
    """db.go:266-358: same shape keyed on uniqueconditions."""
    return _facts(rawstat, "uniqueconditions", "condition_id")


def population_facts_binned(rawstat: DataFrame, bin_years: int = 10) -> DataFrame:
    """The obviously-intended variant of population_facts: age_id from real
    age deciles instead of the reference's hard-coded 1 (bundle.go:89-90
    computes Age then ignores it)."""
    return _facts(rawstat, bin_years=bin_years)


def _facts(
    rawstat: DataFrame,
    unwound: str | None = None,
    key: str | None = None,
    bin_years: int | None = None,
) -> DataFrame:
    alive, cols, tracked, group, counts = _fact_columns(unwound, key, bin_years)
    df = rawstat.filter(alive).select(*cols)
    if tracked is not None:
        df = df.filter(tracked)
    return df.groupBy(*group).agg(*counts)


@per_jvm
def _fact_columns(
    unwound: str | None, key: str | None, bin_years: int | None
) -> tuple[Column, list[Column], Column | None, list[Column], list[Column]]:
    """The fixed trees of one fact pipeline, built once per JVM: the alive
    $match, the $project (with the $unwind of ``unwound`` as ``key``), the
    ``key`` > 0 $match, the $group keys and the $sum counters."""
    age = (F.col("agerange") if bin_years is None
           else F.floor(F.col("age") / bin_years).cast("int"))
    cols = [F.col("location.subcountyid_fips").alias("cs_fips")]
    names = ["cs_fips"]
    if unwound is not None:
        cols.append(F.explode(unwound).alias(key))
        names.append(key)
    cols += [
        age.alias("age_id"),
        gender_flag(F.col("gender"), "male").alias("male"),
        gender_flag(F.col("gender"), "female").alias("female"),
    ]
    names.append("age_id")
    counts = [
        F.count(F.lit(1)).alias("pop"),
        F.sum("male").cast("long").alias("pop_male"),
        F.sum("female").cast("long").alias("pop_female"),
    ]
    tracked = F.col(key) > 0 if unwound is not None else None
    return (alive_filter(F.col("deceasedboolean")), cols, tracked,
            [F.col(n) for n in names], counts)
