"""FHIR bundle ingest pipeline — the reference's entire "left half"
(main.go:99-132, bundle.go:24-125) as a lazy DataFrame program.

Reference dataflow, per bundle:
  read JSON -> typed Bundle (main.go:241-255)
  -> mint server IDs + refMap (main.go:264-275)
  -> rewrite intra-bundle references via reflection (bundle.go:173-221)
  -> route resources to per-type collections, bulk insert (bundle.go:75-120)
  -> derive one RawStats record: gender/age/deceased/location (J1) +
     condition id mapping (J2) + distinct sets (A4) (bundle.go:84-125)

Spark-first re-expression (SURVEY §3.2): the goroutine worker pool becomes
the partitioned file scan, sized by input bytes (size_by_bytes) so that
thousands of tiny bundle files do not fan every later job out into one task
per 4 MB of Spark's per-file open cost.  Per-bundle shared state (refMap)
disappears because new IDs are a DETERMINISTIC function of (bundle_id,
fullUrl) — so the per-bundle fullUrl->new-reference map is built on the
INTACT bundle row (one `transform` + `map_from_entries` before the explode)
and reference rewriting is pure `withField` struct surgery.  The RawStats
row is likewise a projection over the intact bundle row (`filter` by
resource type, last Patient, `transform` over the Conditions); the
condition dim arrives as one `_cond_map` column, a map the JVM builds from
the dim in a scalar subquery, and the city dim through a broadcast join.
Scan-to-sink has no shuffle on the rawstat path; the resource write's one
rebalance shuffle lays out its output files.

Every fixed expression tree is built once per JVM (functions.binding.
per_jvm) and reused by each load, since each node built in Python costs
one Py4J round trip; per-call values (``as_of``, the condition dim) enter
as projected columns that the fixed trees reference by name.
"""

from __future__ import annotations

import os
import re
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from bulkfhirloader_spark.functions.binding import per_jvm
from bulkfhirloader_spark.functions.scalars import (
    NULL_DISEASE_ID,
    age_years,
    collection_name,
    deterministic_id,
    first_element,
    is_deceased,
    make_reference,
    strip_suffix_case,
)
from bulkfhirloader_spark.schemas import (
    BUNDLE_SCHEMA,
    BUNDLE_SCHEMA_PERMISSIVE,
    CONDITION_DIM_SCHEMA,
    CORRUPT_RECORD_COL,
    COUSUB_DIM_SCHEMA,
)

# The Reference-typed paths the rewrite pass must touch.  The reference
# discovers these via recursive reflection over the FHIR Go structs —
# INCLUDING references inside slices (bundle.go:192-221 recurses
# reflect.Slice).  Our resource schema is explicit (schemas.RESOURCE_TYPE),
# so the paths are DERIVED from it at import time (r12 — previously a hand
# list, which an array-valued field like Observation.performer would have
# silently bypassed): a field typed Reference rewrites as a scalar, a field
# typed array<Reference> rewrites element-wise via transform.  Adding a
# Reference field to the schema is the whole change.
from bulkfhirloader_spark.schemas import REFERENCE_TYPE as _REF_T
from bulkfhirloader_spark.schemas import RESOURCE_TYPE as _RES_T

REFERENCE_PATHS = [f.name for f in _RES_T.fields if f.dataType == _REF_T]
REFERENCE_ARRAY_PATHS = [
    f.name
    for f in _RES_T.fields
    if isinstance(f.dataType, T.ArrayType) and f.dataType.elementType == _REF_T
]

# Pinned "now" so age math (F3, bundle.go:54-60) is deterministic in tests;
# pass as_of=F.current_date() for production behavior.
DEFAULT_AS_OF = "2020-01-01"


# ---------------------------------------------------------------------------
# S1/S2 — scan + parse
# ---------------------------------------------------------------------------


def bundle_id_column(scan_root: str) -> Column:
    """Bundle id = the file's path RELATIVE to the scan root, `.json`
    stripped.  The basename alone collides for sharded dumps (a/1.json and
    b/1.json are distinct bundles); since deterministic_id hashes
    (bundle_id, fullUrl), a basename collision would merge the two bundles'
    refmaps and collapse their rawstat rows — the reference can never
    collide because each file gets fresh random ObjectIds (main.go:266).
    The relative path is unique per load and stays human-readable.

    input_file_name() returns a percent-ENCODED file URI, so the raw-path
    prefix strip must decode it first or any root with a space/'#'/non-
    ASCII char silently falls through to the full encoded path as the id.
    url_decode is form-decoding ('+' -> space), which would corrupt paths
    containing a literal '+' (Hadoop leaves '+' unencoded), so '+' is
    protected as %2B before decoding; a malformed sequence falls back to
    the undecoded string via try_url_decode + coalesce."""
    root = os.path.abspath(scan_root).rstrip("/") + "/"
    return F.regexp_replace(_file_path_sans_json(), "^" + re.escape(root), "")


@per_jvm
def _file_path_sans_json() -> Column:
    """The decoded path of the row's file, `.json` stripped; the root ends
    in '/', so stripping the suffix before the root prefix is the same."""
    no_scheme = F.regexp_replace(
        F.input_file_name(), r"^[A-Za-z][A-Za-z0-9+.-]*:(//)?", ""
    )
    decoded = F.coalesce(
        F.try_url_decode(F.regexp_replace(no_scheme, r"\+", "%2B")), no_scheme
    )
    return F.regexp_replace(decoded, r"\.json$", "")


def read_bundles(
    spark: SparkSession, path: str, capture_corrupt: bool = False
) -> DataFrame:
    """S1+S2 (main.go:111, main.go:211-228, main.go:241-255): recursive
    directory walk with a `.json` suffix filter, whole-file JSON parse with
    the explicit bundle schema.  One file = one bundle; bundle_id is the
    file's scan-root-relative path (stable, unique within a load, mirrors
    the reference's one-goroutine-per-file unit of work).

    With ``capture_corrupt`` the read runs PERMISSIVE with a
    ``_corrupt_record`` column: a malformed file becomes one row carrying
    its raw text instead of an indistinguishable all-null bundle.  The
    reference silently discards the parse error (main.go:255 ignores
    json.Unmarshal's return), leaving no trace of bad inputs.

    The scan comes back sized by its input bytes (size_by_bytes)."""
    reader = (
        spark.read.option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
    )
    if capture_corrupt:
        reader = reader.option("mode", "PERMISSIVE").option(
            "columnNameOfCorruptRecord", CORRUPT_RECORD_COL
        )
        df = reader.schema(BUNDLE_SCHEMA_PERMISSIVE).json(path)
    else:
        df = reader.schema(BUNDLE_SCHEMA).json(path)
    return size_by_bytes(df.withColumn("bundle_id", bundle_id_column(path)), df)


def size_by_bytes(df: DataFrame, sized_by: DataFrame | None = None) -> DataFrame:
    """Coalesce ``df``, without a shuffle, to one partition per
    ``spark.sql.files.maxPartitionBytes`` of input, and at least
    ``defaultParallelism``.  The input size is the optimized plan's
    ``sizeInBytes`` of ``sized_by`` (default ``df``): for a file scan, the
    file sizes the file index already listed; for a foreachBatch
    micro-batch, the statistics its source plan carried.

    Spark packs small files by charging each a 4 MB open cost, so 1,000
    0.6 KB bundles scan as 32 partitions, and every downstream job of the
    load then runs 32 tasks for 0.6 MB.  This is ensure_parallelism
    (operators/dedup.py) in the other direction: it only ever lowers the
    partition count, so it does nothing on large inputs."""
    spark = df.sparkSession
    plan = (df if sized_by is None else sized_by)._jdf.queryExecution().optimizedPlan()
    size = int(str(plan.stats().sizeInBytes()))
    split = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
    target = max(spark.sparkContext.defaultParallelism, -(-size // split))
    if target < df.rdd.getNumPartitions():
        return df.coalesce(target)
    return df


def explode_entries(bundles: DataFrame) -> DataFrame:
    """One row per bundle entry, keyed by (bundle_id, fullUrl) and carrying
    the entry-order index `pos` (main.go:264: `for _, entry := range
    bundle.Entry` — order matters for last-patient-wins, bundle.go:84-97).

    The per-bundle fullUrl -> rewritten-reference map (J3's refMap,
    main.go:257-275) is built HERE, on the intact bundle row, with one
    `transform` + `map_from_entries` — no groupBy, no join: the map is a
    pure function of the row because new ids are deterministic.  Entries
    without a fullUrl are excluded from the map (nothing can reference
    them), matching the reference which keys refMap by entry.FullUrl."""
    refmap, exploded, entries = _explode_columns()
    # the map is projected before the posexplode, so it is built once per
    # bundle, not once per entry
    return bundles.withColumn("_refmap", refmap).select(*exploded).select(*entries)


@per_jvm
def _explode_columns() -> tuple[Column, list[Column], list[Column]]:
    refmap = F.map_from_entries(
        F.filter(
            F.transform(
                "entry",
                lambda e: F.struct(
                    e["fullUrl"].alias("key"),
                    make_reference(
                        e["resource"]["resourceType"],
                        deterministic_id(F.col("bundle_id"), e["fullUrl"]),
                    ).alias("value"),
                ),
            ),
            lambda kv: kv["key"].isNotNull(),
        )
    )
    exploded = [F.col("bundle_id"), F.col("_refmap"),
                F.posexplode("entry").alias("pos", "e")]
    entries = [
        F.col("bundle_id"),
        F.col("pos"),
        F.col("e.fullUrl").alias("fullUrl"),
        F.col("e.resource").alias("resource"),
        F.col("_refmap"),
    ]
    return refmap, exploded, entries


# ---------------------------------------------------------------------------
# F8/F10 — ID assignment; J3 — reference rewrite
# ---------------------------------------------------------------------------


def assign_ids(entries: DataFrame) -> DataFrame:
    """ID minting (main.go:264-275).  The reference uses random BSON
    ObjectIds; we use sha2(bundle_id|fullUrl) so the refMap needs no shared
    mutable state and outputs are reproducible.  new_ref is the rewritten
    reference string Type/id (F10, main.go:268)."""
    for name, col in _id_columns():
        entries = entries.withColumn(name, col)
    return entries


@per_jvm
def _id_columns() -> list[tuple[str, Column]]:
    new_id = deterministic_id(F.col("bundle_id"), F.col("fullUrl"))
    return [
        ("new_id", new_id),
        ("new_ref", make_reference(F.col("resource.resourceType"), new_id)),
        ("resource", F.col("resource").withField("id", new_id)),
    ]


def rewrite_references(entries: DataFrame) -> DataFrame:
    """J3 (main.go:257-278, bundle.go:173-221): rewrite every Reference field
    whose value matches another entry's fullUrl in the SAME bundle.

    Zero-shuffle: the fullUrl->new_ref map arrives as the `_refmap` column
    built on the intact bundle row (explode_entries), so the rewrite is pure
    withField surgery per known Reference path — a projection, no Exchange
    anywhere between scan and sink (asserted in tests/test_plans.py).

    The probe uses the VERBATIM reference string: the reference's active
    rewrite path (UpdateAllReferences, bundle.go:184-189, called from
    main.go:278) matches ref.Reference against fullUrl exactly — the legacy
    'cid:' strip (bundle.go:137-147) is dead code on that path, so F9 stays
    exposed as a scalar (functions.scalars.strip_cid_prefix) but is NOT
    applied here.  Unmatched references stay verbatim.

    Paths come FROM the schema (REFERENCE_PATHS / REFERENCE_ARRAY_PATHS —
    the Spark analog of the reference's reflection walk, which also
    recurses into slices, bundle.go:192-221): scalar Reference fields get
    withField surgery; array<Reference> fields rewrite element-wise with
    ``transform`` — still a pure projection, still zero-shuffle."""
    return entries.withColumn("resource", _rewritten_resource()).drop("_refmap")


@per_jvm
def _rewritten_resource() -> Column:
    res = F.col("resource")
    for p in REFERENCE_PATHS:
        old = F.col(f"resource.{p}.reference")
        rewritten = F.coalesce(F.try_element_at(F.col("_refmap"), old), old)
        res = res.withField(
            p,
            F.when(old.isNotNull(), F.struct(rewritten.alias("reference"))).otherwise(
                F.col(f"resource.{p}")
            ),
        )
    refmap = F.col("_refmap")
    for p in REFERENCE_ARRAY_PATHS:
        arr = F.col(f"resource.{p}")
        res = res.withField(
            p,
            F.when(
                arr.isNotNull(),
                F.transform(
                    arr,
                    lambda r: F.struct(
                        F.coalesce(
                            F.try_element_at(refmap, r["reference"]), r["reference"]
                        ).alias("reference")
                    ),
                ),
            ).otherwise(arr),
        )
    return res


# ---------------------------------------------------------------------------
# S3/S4 — dimension loads (with F1/F2 applied, main.go:137-202)
# ---------------------------------------------------------------------------


def load_cousub_dim(spark: SparkSession, path: str) -> DataFrame:
    """S3 (main.go:137-167): county-subdivision dim; the SQL strips a
    ' Town' suffix from cs_name in the SELECT (F1, main.go:140-142)."""
    df = spark.read.schema(COUSUB_DIM_SCHEMA).parquet(path)
    return df.select(*_dim_columns()[0])


def load_condition_dim(spark: SparkSession, path: str) -> DataFrame:
    """S4 (main.go:171-202): tracked-condition dim keyed by (system, code);
    NULL disease_id becomes -999 in the SELECT (F2, main.go:174)."""
    df = spark.read.schema(CONDITION_DIM_SCHEMA).parquet(path)
    return df.select(*_dim_columns()[1])


@per_jvm
def _dim_columns() -> tuple[list[Column], list[Column]]:
    cousub = [
        strip_suffix_case(F.col("cs_name"), " Town").alias("cs_name"),
        F.col("ct_fips"),
        F.col("cs_fips"),
    ]
    condition = [
        F.col("condition_id"),
        F.coalesce(F.col("disease_id"), F.lit(NULL_DISEASE_ID)).alias("disease_id"),
        F.col("code_system"),
        F.col("code"),
    ]
    return cousub, condition


# ---------------------------------------------------------------------------
# J1/J2/J4 + A4 + F3/F4/F6 — rawstat derivation (bundle.go:66-125)
# ---------------------------------------------------------------------------


def _one_per_key(
    dim: DataFrame, keys: tuple[str, ...], values: tuple[str, ...]
) -> DataFrame:
    """One dim row per key, as in the reference's CousubMap / DiseaseMap
    (main.go:137-202), so no lookup multiplies a row; the smallest
    ``values`` tuple wins.  A small dim fits one partition, where the
    aggregation needs no shuffle."""
    group, smallest, flat = _one_per_key_columns(keys, values)
    return dim.coalesce(1).groupBy(*group).agg(smallest).select(*flat)


@per_jvm
def _one_per_key_columns(
    keys: tuple[str, ...], values: tuple[str, ...]
) -> tuple[list[Column], Column, list[Column]]:
    group = [F.col(k) for k in keys]
    return group, F.min(F.struct(*values)).alias("_v"), [*group, F.col("_v.*")]


_COND_KEY, _COND_VAL = ("code_system", "code"), ("condition_id", "disease_id")


def derive_rawstat(
    bundles: DataFrame,
    cousub_dim: DataFrame,
    condition_dim: DataFrame,
    as_of: Column | None = None,
) -> DataFrame:
    """One RawStats row per bundle (models.go:5-15, bundle.go:66-125), as a
    projection over the bundle row (read_bundles) — no shuffle.  Exploded
    entries (explode_entries and after) are re-nested into bundle rows, in
    entry order, by one aggregation first.

    - The LAST Patient in entry order wins (bundle.go:84-97 overwrites one
      basestat per Patient); its id is deterministic_id(bundle_id, fullUrl).
    - J2 (bundle.go:99-108): each Condition's (system, code) is looked up
      in `_cond_map`, a map the JVM builds from the condition dim in one
      scalar subquery (map_from_entries over collect_list); a miss yields
      the Go zero-value Disease (IDs 0), kept in ``conditions`` but
      filtered by the stats pipelines' > 0.  A4 (bundle.go:24-51):
      array_distinct + array_sort.  J1 (bundle.go:94-95): a broadcast left
      join on city.
    - Each dim keeps one row per key (_one_per_key): the smallest
      (ct_fips, cs_fips) per stripped city, the smallest (condition_id,
      disease_id) per (code_system, code).
    - ``as_of`` and `_cond_map` are projected as columns, so every other
      expression tree here is built once per JVM (_rawstat_columns).

    Gotchas preserved (SURVEY §4.3):
    - #1 agerange is the hard-coded 1 (bundle.go:90), but only inside the
      Patient branch: a patient-less bundle keeps the Go zero values
      (AgeRange=0, Age=0 — ints without omitempty, models.go:9-10).
    - #4 unknown city -> empty-string FIPS, the zero-value Cousub.
    - #6 every bundle gets a row — with no Patient, or no entries at all,
      its id is '' (bundle.go:122-124 inserts basestat unconditionally).
    - deceasedboolean: false and NULL are equivalent to the P1 filter
      (bool with omitempty, models.go:11); the F4 boolean is stored as is.
    """
    c = _rawstat_columns()
    if "entry" not in bundles.columns:  # exploded entries: re-nest, in entry order
        bundles = bundles.groupBy(c.bundle_id).agg(c.renested)
    # DiseaseMap, computed in the JVM.  A NULL key part never matches a
    # coding, and a repeated key would raise under Spark's default
    # spark.sql.mapKeyDedupPolicy; coalesce(1) keeps the subquery
    # shuffle-free.
    dim = _one_per_key(condition_dim.filter(c.known_code), _COND_KEY, _COND_VAL)
    cond_map = dim.select(c.cond_map).scalar()
    as_of = as_of if as_of is not None else c.default_as_of
    rows = bundles.select(c.bundle_id, c.entry, as_of.alias("_as_of"),
                          cond_map.alias("_cond_map"))
    rows = rows.select(*c.nested).select(*c.flat)
    cousub = _one_per_key(cousub_dim, ("cs_name",), ("ct_fips", "cs_fips"))
    j = rows.join(F.broadcast(cousub), rows.city == cousub.cs_name, "left")
    return j.select(*c.out)


class _RawstatColumns(NamedTuple):
    bundle_id: Column
    entry: Column
    renested: Column
    known_code: Column
    cond_map: Column
    default_as_of: Column
    nested: list[Column]
    flat: list[Column]
    out: list[Column]


@per_jvm
def _rawstat_columns() -> _RawstatColumns:
    """The fixed trees of derive_rawstat.  They read the per-call values
    from the projected `_as_of` and `_cond_map` columns."""
    bundle_id = F.col("bundle_id")
    entry = F.coalesce(F.col("entry"), F.array())
    cond_map = F.col("_cond_map")

    def of_type(rtype: str) -> Column:
        return F.filter(entry, lambda e: e["resource"]["resourceType"] == rtype)

    def condition(e: Column) -> Column:
        c = first_element(e["resource"]["code"]["coding"])  # F6: Coding[0]
        hit = F.try_element_at(
            cond_map, F.struct(c["system"].alias("code_system"), c["code"].alias("code"))
        )
        return F.struct(
            c["system"].alias("system"),
            c["code"].alias("code"),
            F.coalesce(hit["condition_id"], F.lit(0)).alias("conditionid"),
            F.coalesce(hit["disease_id"], F.lit(0)).alias("diseaseid"),
        )

    # select the last Patient once; the next projection reads its fields
    nested = [
        bundle_id,
        F.try_element_at(of_type("Patient"), F.lit(-1)).alias("_patient"),
        F.transform(of_type("Condition"), condition).alias("conditions"),
        F.col("_as_of"),
    ]
    patient = F.col("_patient")
    p, has_patient = patient["resource"], patient.isNotNull()
    addr = first_element(p["address"])  # F6: Address[0] only
    flat = [
        bundle_id,
        F.when(has_patient, deterministic_id(bundle_id, patient["fullUrl"]))
        .otherwise(F.lit("")).alias("id"),
        p["gender"].alias("gender"),
        F.when(has_patient, F.lit(1)).otherwise(F.lit(0)).alias("agerange"),  # gotcha #1
        F.when(has_patient, age_years(F.to_date(p["birthDate"]), F.col("_as_of")))
        .otherwise(F.lit(0)).alias("age"),
        F.when(has_patient, is_deceased(  # F4 tri-state (bundle.go:91)
            F.to_timestamp(p["deceasedDateTime"]), p["deceasedBoolean"]
        )).alias("deceasedboolean"),
        addr["city"].alias("city"),
        addr["postalCode"].alias("zipcode"),
        F.col("conditions"),
    ]
    loc = {"countyid_fips": "ct_fips", "subcountyid_fips": "cs_fips",
           "city": "city", "zipcode": "zipcode"}

    def distinct_ids(field: str) -> Column:
        return F.array_sort(F.array_distinct(F.transform("conditions", lambda c: c[field])))

    out = [
        *(F.col(c) for c in ("bundle_id", "id", "gender", "agerange", "age",
                             "deceasedboolean")),
        F.struct(*(F.coalesce(F.col(c), F.lit("")).alias(n) for n, c in loc.items()))
        .alias("location"),
        F.col("conditions"),
        distinct_ids("conditionid").alias("uniqueconditions"),
        distinct_ids("diseaseid").alias("uniquediseases"),
    ]
    return _RawstatColumns(
        bundle_id=bundle_id,
        entry=F.col("entry"),
        renested=F.array_sort(
            F.collect_list(F.struct("pos", "fullUrl", "resource"))
        ).alias("entry"),
        known_code=F.col("code_system").isNotNull() & F.col("code").isNotNull(),
        cond_map=F.map_from_entries(
            F.collect_list(F.struct(F.struct(*_COND_KEY), F.struct(*_COND_VAL)))
        ).cast("map<struct<code_system:string,code:string>,"
               "struct<condition_id:int,disease_id:int>>"),
        default_as_of=F.lit(DEFAULT_AS_OF).cast("date"),
        nested=nested,
        flat=flat,
        out=out,
    )


# ---------------------------------------------------------------------------
# K1/K2 — document sinks; A5 — counter; full pipeline
# ---------------------------------------------------------------------------


def write_resources(entries: DataFrame, out_dir: str) -> None:
    """K1 (bundle.go:75-120): per-resource-type routed bulk write.  The
    Mongo per-collection unordered bulk insert maps to a parquet sink
    partitioned by collection name (F7) — one directory per collection,
    written by all tasks in parallel, no per-type driver loop.

    r17 (guide §6): a REBALANCE-by-collection hint before the sink.
    Without it every scan task writes one file per collection it happens
    to hold — scan_partitions × n_collections small files (measured 56
    files for a 1 000-bundle load; at 100 TB each output file is
    ~1/n_collections of a scan split, and the commit protocol pays per
    file).  The AQE rebalance clusters rows by collection into
    advisory-sized output files (2 files for the same load) and SPLITS a
    skewed collection across tasks, so one giant collection cannot
    serialize the write.  Cost: the one payload shuffle that produces
    the final layout — the bytes move exactly once, into the files they
    belong in (guide §8's rule)."""
    entries.withColumn("collection", resource_collection()).hint(
        "rebalance", "collection"
    ).write.mode("append").partitionBy("collection").parquet(out_dir)


@per_jvm
def resource_collection() -> Column:
    """F7 over each entry's resource type: the collection an entry is
    routed to, and the partition column of the resource store."""
    return collection_name(F.col("resource.resourceType"))


def write_rawstat(rawstat: DataFrame, out_dir: str) -> None:
    """K2 (bundle.go:122-124)."""
    rawstat.write.mode("append").parquet(out_dir)


def run_pipeline(
    spark: SparkSession,
    bundles_path: str,
    cousub_dim_path: str,
    condition_dim_path: str,
    out_dir: str,
    as_of: Column | None = None,
) -> dict:
    """Entry point 1 (main.go:27-133) minus the relational fact write —
    see sinks.facts for K3/K4.  Returns the A5 counters (main.go:285).

    The wg.Wait() barrier (main.go:121) is implicit: the resource/rawstat
    writes are actions that complete before facts read the rawstat output.

    Single-pass like the reference (main.go:103 counts while loading):
    - A5 is an `observe` metric on the bundle scan, so the count rides the
      quarantine-write job instead of re-scanning the input (multiLine JSON
      has no fast count path — a separate .count() re-parses every file).
    - `bundles` is persisted DISK_ONLY: parse the JSON once, then serve the
      corrupt-file quarantine, the resources write, and the rawstat
      derivation from the columnar cached form (the downstream explode /
      rewrite steps are pure projections — cheap to recompute per sink; the
      JSON parse is the expensive part).  Blocks that don't fit local disk
      fall back to recompute, so this degrades gracefully rather than
      OOMing.  The scan is already sized by bytes (read_bundles), so each
      sink runs one task per core on a small load, not one per 4 MB of
      per-file open cost.
    - The resources write takes the exploded, rewritten entries; the
      rawstat derivation takes the persisted bundle rows themselves and
      projects one RawStats row from each, with no shuffle.
    - Malformed bundle files are captured, not crashed-on and not silently
      emptied (the reference drops the Unmarshal error, main.go:255):
      their raw text lands in ``out_dir/quarantine`` keyed by bundle_id —
      the re-fetch list an operator actually needs — and they are excluded
      from every downstream count and fact.
    """
    obs = Observation("a5_record_counter")
    corrupt, counters, quarantined, good_only = _corrupt_columns()
    bundles = (
        read_bundles(spark, bundles_path, capture_corrupt=True)
        .observe(obs, *counters)
        .persist(StorageLevel.DISK_ONLY)
    )
    try:
        bundles.filter(corrupt).select(*quarantined).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "quarantine"))
        counts = obs.get  # first action done — metrics available
        good = bundles.filter(good_only).drop(CORRUPT_RECORD_COL)
        entries = rewrite_references(assign_ids(explode_entries(good)))
        cousub = load_cousub_dim(spark, cousub_dim_path)
        conddim = load_condition_dim(spark, condition_dim_path)
        rawstat = derive_rawstat(good, cousub, conddim, as_of)
        # r17 (guide §2.6 — overlap independent jobs): the resource and
        # rawstat sinks both read the one persisted parse and depend on
        # nothing else; submitting them from two driver threads lets the
        # second job's tasks back-fill executors freed by the first
        # job's tail instead of idling through it (measured −15% warm
        # locally; at scale the tail is the whole straggler window).
        # Same writes, same rows, same directories — only the dispatch
        # is concurrent; result() re-raises either job's failure exactly
        # like the sequential form.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_res = pool.submit(
                write_resources, entries, os.path.join(out_dir, "resources")
            )
            f_raw = pool.submit(
                write_rawstat, rawstat, os.path.join(out_dir, "rawstat")
            )
            f_res.result()
            f_raw.result()
    finally:
        bundles.unpersist()
    n_corrupt = int(counts["corrupt"] or 0)
    # A5 (main.go:103, main.go:285) counts loaded bundles; corrupt files
    # are reported separately, not inside the loaded count.
    return {
        "bundles": int(counts["bundles"]) - n_corrupt,
        "corrupt_bundles": n_corrupt,
        "out_dir": out_dir,
    }


@per_jvm
def _corrupt_columns() -> tuple[Column, list[Column], list[Column], Column]:
    corrupt = F.col(CORRUPT_RECORD_COL).isNotNull()
    counters = [
        F.count(F.lit(1)).alias("bundles"),
        F.sum(corrupt.cast("long")).alias("corrupt"),
    ]
    quarantined = [F.col("bundle_id"), F.col(CORRUPT_RECORD_COL).alias("raw_text")]
    return corrupt, counters, quarantined, ~corrupt
