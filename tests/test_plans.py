"""Physical-plan assertions: the scale properties the 100 TB design relies
on must be visible in the optimized plan, not just hoped for.

- J1/J2/A1 dim joins plan as BroadcastHashJoin (no shuffle of the fact side).
- Filters on scanned columns reach the parquet scan (PushedFilters).
- Column pruning: a 2-column projection reads a 2-column schema.
- Stats/text hot paths contain no BatchEvalPython (no row-wise Python UDFs).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bulkfhirloader_spark.queries import registry
from bulkfhirloader_spark.sources.tables import load_table

from conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_a1_broadcasts_customer_dim(spark):
    plan = _plan(registry.ref_a1_population_facts(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_j1_broadcasts_both_dims(spark):
    plan = _plan(registry.ref_j1_dim_join_default(spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") == 2


def test_filter_pushdown_reaches_scan(spark):
    orders = load_table(spark, SF_DIR, "orders")
    df = orders.filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)" in plan


def test_column_pruning_reaches_scan(spark):
    orders = load_table(spark, SF_DIR, "orders")
    df = orders.select("o_orderkey", "o_totalprice")
    plan = _plan(df)
    assert "ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>" in plan


def test_q1_filter_pushed_and_codegen(spark):
    # AQE keeps the plan string at `AdaptiveSparkPlan isFinalPlan=false`
    # until execution, hiding codegen spans — disable it for inspection only.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(registry.q1_lineitem_pricing(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    # '*(n)' prefixes are whole-stage-codegen spans in the plan string
    assert "*(1)" in plan and "*(2)" in plan


def test_q6_all_predicates_pushed(spark):
    """Q6 is the pushdown acid test: all three range predicates must reach
    the parquet scan as PushedFilters, and the plan has no join."""
    plan = _plan(registry.q6_forecast_revenue(spark, SF_DIR))
    # the plan string elides long filter lists at a fixed width, so assert
    # the un-elided prefix plus the full predicates in DataFilters
    assert (
        "PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), "
        "IsNotNull(l_quantity), GreaterThanOrEqual(l_shipda" in plan
    )
    assert "Join" not in plan


def test_q19_stays_equi_join(spark):
    """Q19's OR-of-conjuncts must not degrade the partkey equi join into a
    nested-loop: part is broadcast, the disjunction is a post-join filter."""
    plan = _plan(registry.q19_disjunctive_predicates(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q18_aggregates_before_join(spark):
    """Q18's HAVING aggregate must run below the joins (aggregate first,
    then the tiny qualifying set joins) — printed top-down, both joins sit
    above the lineitem Aggregate."""
    opt = _optimized(registry.q18_large_volume_customers(spark, SF_DIR))
    agg_pos = opt.find("Aggregate [l_orderkey")
    join_pos = opt.find("Join")
    assert agg_pos != -1 and join_pos != -1
    assert join_pos < agg_pos


def test_no_python_udfs_on_hot_paths(spark):
    for name in [
        "ref_a1_population_facts",
        "ref_a2_disease_facts",
        "dedup_exact",
        "dedup_minhash_pairs",
        "text_quality_stats",
        "sim_topk_bruteforce",
        "win_session",
    ]:
        fn, _ = registry.REGISTRY[name]
        plan = _plan(fn(spark, SF_DIR))
        assert "BatchEvalPython" not in plan, f"{name} fell back to a Python UDF"
        assert "ArrowEvalPython" not in plan, f"{name} uses a pandas UDF unexpectedly"


def test_ingest_resource_path_has_no_exchange(spark, tmp_path):
    """J3 reference rewrite is a pure projection: scan -> posexplode ->
    deterministic ids -> refmap rewrite contains NO Exchange, because the
    per-bundle fullUrl map is built on the intact bundle row (transform +
    map_from_entries), never via groupBy + join.  At 100 TB this is the
    difference between zero shuffles and a full-data shuffle before the
    resource write."""
    import json

    from bulkfhirloader_spark.ingest import pipeline as ing

    b = {
        "resourceType": "Bundle",
        "type": "transaction",
        "entry": [
            {"fullUrl": "urn:uuid:p1",
             "resource": {"resourceType": "Patient", "id": "x"}},
            {"fullUrl": "urn:uuid:c1",
             "resource": {"resourceType": "Condition",
                          "subject": {"reference": "urn:uuid:p1"}}},
        ],
    }
    (tmp_path / "b.json").write_text(json.dumps(b))
    entries = ing.rewrite_references(
        ing.assign_ids(ing.explode_entries(ing.read_bundles(spark, str(tmp_path))))
    )
    assert "Exchange" not in _plan(entries)
    rows = {r["fullUrl"]: r for r in entries.collect()}
    assert rows["urn:uuid:c1"]["resource"]["subject"]["reference"].startswith("Patient/")


def _write_tiny_bundles(path, n):
    import json

    for i in range(n):
        b = {"resourceType": "Bundle", "entry": [
            {"fullUrl": f"urn:uuid:p{i}",
             "resource": {"resourceType": "Patient", "gender": "male",
                          "address": [{"city": "Boston"}]}},
            {"fullUrl": f"urn:uuid:c{i}",
             "resource": {"resourceType": "Condition",
                          "code": {"coding": [{"system": "s", "code": "1"}]}}},
        ]}
        (path / f"b{i:03d}.json").write_text(json.dumps(b))


def test_rawstat_over_bundle_rows_has_no_shuffle(spark, tmp_path):
    """The rawstat row is a projection over its bundle row: no shuffle
    Exchange between the scan and the rawstat sink.  The city dim arrives
    through a BroadcastExchange; the condition dim is the `_cond_map` column,
    a map built in the JVM by a shuffle-free scalar subquery."""
    import re

    from bulkfhirloader_spark.ingest import pipeline as ing

    _write_tiny_bundles(tmp_path, 3)
    cousub = spark.createDataFrame(
        [("Boston", "025", "07000")], "cs_name string, ct_fips string, cs_fips string")
    conddim = spark.createDataFrame(
        [(101, 11, "s", "1")],
        "condition_id int, disease_id int, code_system string, code string")
    rawstat = ing.derive_rawstat(ing.read_bundles(spark, str(tmp_path)), cousub, conddim)
    plan = _plan(rawstat)
    assert not re.search(r"(?<!Broadcast)Exchange", plan), plan
    assert "BroadcastHashJoin" in plan
    rows = rawstat.collect()
    assert len(rows) == 3
    assert {r["location"]["subcountyid_fips"] for r in rows} == {"07000"}
    assert {tuple(r["uniqueconditions"]) for r in rows} == {(101,)}


def test_read_bundles_packs_tiny_files_into_parallelism(spark, tmp_path):
    """Spark charges each file a 4 MB open cost and caps a split at 128 MB,
    so 32 tiny files fill a scan partition: 32 * (cores + 1) files scan as
    cores + 1 partitions.  read_bundles coalesces them to
    defaultParallelism."""
    from bulkfhirloader_spark.ingest import pipeline as ing

    dp = spark.sparkContext.defaultParallelism
    n = 32 * (dp + 1)
    _write_tiny_bundles(tmp_path, n)
    df = ing.read_bundles(spark, str(tmp_path))
    assert df.rdd.getNumPartitions() <= dp
    assert df.count() == n


def test_read_bundles_keeps_one_partition_per_max_partition_bytes(spark, tmp_path):
    """With spark.sql.files.maxPartitionBytes below the input size, the
    coalesce keeps ceil(input bytes / maxPartitionBytes) partitions."""
    import math

    from bulkfhirloader_spark.ingest import pipeline as ing

    dp = spark.sparkContext.defaultParallelism
    n = max(40, 4 * dp)
    _write_tiny_bundles(tmp_path, n)
    size = sum(p.stat().st_size for p in tmp_path.iterdir())
    split = size // (2 * dp)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(split))
    try:
        df = ing.read_bundles(spark, str(tmp_path))
        parts = df.rdd.getNumPartitions()
    finally:
        spark.conf.unset("spark.sql.files.maxPartitionBytes")
    assert parts == math.ceil(size / split) > dp
    assert df.count() == n


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Fact-fact joins at scale must be co-locatable: two tables bucketed on
    the join key with matching bucket counts join with NO Exchange on either
    side (and no Sort, since the buckets are written pre-sorted).  Broadcast
    and AQE are disabled for the inspection so the shuffle-free sort-merge
    join is what's actually planned."""
    from bulkfhirloader_spark.sources.bucketing import write_bucketed

    orders = load_table(spark, SF_DIR, "orders")
    lineitem = load_table(spark, SF_DIR, "lineitem")
    write_bucketed(orders, "orders_b", ["o_orderkey"], 8,
                   sort_cols=["o_orderkey"], path=str(tmp_path / "ob"))
    write_bucketed(lineitem, "lineitem_b", ["l_orderkey"], 8,
                   sort_cols=["l_orderkey"], path=str(tmp_path / "lb"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        j = spark.table("orders_b").join(
            spark.table("lineitem_b"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        ).select("o_orderpriority", "l_quantity")
        plan = _plan(j)
        rows = j.limit(5).collect()
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS lineitem_b")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan
    assert len(rows) == 5


def test_a2_filter_pushed_to_scan_no_arrays(spark):
    """A2's disease_id > N filter must reach the lineitem parquet scan as
    a pushed filter, and the r16 distinct-pairs shape must hold: no
    collect_set/explode round-trip anywhere in the plan (the pre-r16
    shape built a per-order array buffer just to flatten it again — the
    row-count cliff at scale is now handled BELOW the distinct)."""
    plan = _plan(registry.ref_a2_disease_facts(spark, SF_DIR))
    assert "GreaterThan(l_suppkey,2)" in plan  # pushed to the scan
    assert "collect_set" not in plan and "Generate" not in plan


def test_q4_exists_is_semi_hash_join(spark):
    """Q4's EXISTS must plan as a LeftSemi HASH join (the equi conjunct on
    orderkey carries the join; the date comparison is a residual) — never a
    nested loop."""
    plan = _plan(registry.q4_order_priority(spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_q2_correlated_min_all_broadcast(spark):
    """Q2's groupBy-min re-join and every dim lookup must broadcast — the
    only Exchanges are for aggregates, and no join degrades to
    nested-loop/cartesian."""
    plan = _plan(registry.q2_min_cost_supplier(spark, SF_DIR))
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert "SortMergeJoin" not in plan


def test_q16_not_in_is_broadcast_anti_join(spark):
    plan = _plan(registry.q16_part_supplier_counts(spark, SF_DIR))
    assert "LeftAnti" in plan and "BroadcastHashJoin" in plan


def test_q21_single_pass_no_fact_self_join(spark):
    """The adapted Q21 replaces the EXISTS / NOT-EXISTS fact-table
    self-probes with one aggregation: lineitem must be scanned exactly
    once and no nested-loop join appears."""
    plan = _plan(registry.q21_blamed_suppliers(spark, SF_DIR))
    assert plan.count("lineitem.parquet") == 1
    assert "NestedLoop" not in plan and "Cartesian" not in plan


# Queries whose documented semantics are an opt-in exact all-pairs tier
# (the scale path is their LSH/banded sibling), or whose nested-loop is a
# cross join against a SINGLE-ROW global aggregate — the standard
# scalar-subquery plan, O(n) regardless of input size.
_PLAN_LINT_ALLOW_NESTED_LOOP = {
    "dedup_embedding_cosine",   # explicit exact all-pairs baseline
    "sim_topk_bruteforce",      # exact tier: broadcast queries x corpus
    "ext_scalar_subquery",      # 1-row global-avg broadcast
    "ext_semi_anti_joins",      # 1-row count columns combined via cross
    "ext_setops_customers",     # 1-row counts of each set-op result
    "cur_tfidf_top_terms",      # 1-row corpus doc count for idf
    "q11_important_parts",      # 1-row grand-total threshold
    "q22_dormant_customers",    # 1-row avg-balance threshold
    "emb_knn_classify",         # n_classes-row broadcast centroid table
    "emb_kmeans_assign",        # k-row broadcast centroid table (same shape)
    "emb_kmeans_assign_chained",  # same k-row broadcast, chained-fit tier
    "dedup_semantic_pairs",     # k-row broadcast centroid table feeds assignment
    "dedup_semantic_pairs_chained",  # same shape, chained distributed fit
    "dedup_semantic_survivors", # same fit feeds the composed pipeline
    "ext_bloom_semi_lineitem",  # 1-row broadcast bloom map attach
    "ext_winsorize_doclen",     # 1-row broadcast percentile bounds
    "cur_median_length_filter", # 1-row broadcast exact-median threshold
    "text_collocations_lift",   # 1-row broadcast corpus token total
    "ext_histogram_price",      # 1-row broadcast (min, max) bounds
    "cur_weighted_sample",      # 1-row broadcast max-weight threshold
    "text_bm25_topk",           # 1-row broadcast (N docs, avgdl) stats
}
# stream_* execute a streaming query on invocation — prefix-matched so new
# streaming registrations can't silently leak into the batch lint
_PLAN_LINT_SKIP_PREFIXES = ("stream_",)
_PLAN_LINT_SKIP = {
    "ref_ingest_streaming",
}


def test_no_cartesian_or_nested_loop_in_any_registered_query(spark):
    """Sweeping plan lint (one pass, two checks): (1) NO registered query
    may plan a CartesianProduct, and only the documented exact all-pairs
    tiers may plan a BroadcastNestedLoopJoin — catches a silently-
    degenerating join (lost equi condition, non-equi-only predicate)
    anywhere in the surface.  (2) r15 (r14 verdict #5): only the
    allow-listed queries may plan a GLOBAL (partition-less) window —
    WindowExec's 'No Partition Defined' sites, each documented in
    scripts/plan_audit.GLOBAL_WINDOW_ALLOWLIST with the bounded
    intermediate it runs on — so an unexplained global window (a
    serialized single-partition sort at corpus size) fails here instead
    of hiding in bench-log warning noise."""
    from scripts.plan_audit import GLOBAL_WINDOW_ALLOWLIST, has_global_window

    bad = {}
    gwin = set()
    for name, (fn, _sql) in sorted(registry.REGISTRY.items()):
        if name in _PLAN_LINT_SKIP or name.startswith(_PLAN_LINT_SKIP_PREFIXES):
            continue
        plan = _plan(fn(spark, SF_DIR))
        if "CartesianProduct" in plan:
            bad[name] = "CartesianProduct"
        elif "BroadcastNestedLoopJoin" in plan and name not in _PLAN_LINT_ALLOW_NESTED_LOOP:
            bad[name] = "BroadcastNestedLoopJoin"
        if any(has_global_window(ln) for ln in plan.splitlines()):
            gwin.add(name)
    assert not bad, f"degenerate join plans: {bad}"
    unexplained = gwin - set(GLOBAL_WINDOW_ALLOWLIST)
    assert not unexplained, (
        f"global windows outside the allowlist: {sorted(unexplained)} — "
        f"bound the input and document it in scripts/plan_audit.py, or "
        f"partition the window"
    )
    stale = set(GLOBAL_WINDOW_ALLOWLIST) - gwin
    assert not stale, (
        f"allow-listed global windows no longer observed: {sorted(stale)} "
        f"— prune the allowlist so it stays an exact census"
    )


def test_knn_classify_corpus_path_is_projection(spark):
    """Nearest-centroid scoring must be a pure projection over the corpus:
    the centroid table collapses to one broadcast array row and the argmax
    is array_max — no aggregate and no exchange keyed by the vector id
    (the groupBy-struct-max formulation plans SortAggregate + a full-corpus
    shuffle)."""
    fn, _ = registry.REGISTRY["emb_knn_classify"]
    plan = _plan(fn(spark, SF_DIR))
    assert "SortAggregate" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_kmeans_final_assignment_is_projection(spark):
    """The Lloyd fit's deliverable (every row's cluster) must score the
    corpus the same way emb_knn does: centroids ride a one-row broadcast,
    argmax is array_max — no aggregate and no exchange keyed by the vector
    id anywhere in the final assignment pass.  (The per-iteration update
    shuffles only k x dim partials, and those passes have already been
    collected to literals by the time this plan exists.)"""
    fn, _ = registry.REGISTRY["emb_kmeans_assign"]
    plan = _plan(fn(spark, SF_DIR))
    assert "SortAggregate" not in plan
    assert "hashpartitioning(vec_id" not in plan


def test_salted_join_plans_equi_on_salt(spark):
    """The salted join must stay an EQUI hash join on (key, salt) with the
    replicated side broadcast/exploded — never a nested loop."""
    fn, _ = registry.REGISTRY["ext_salted_join_orders"]
    plan = _plan(fn(spark, SF_DIR))
    assert "BroadcastHashJoin [okey" in plan and "_salt" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_stratified_sample_and_zorder_are_single_stage(spark):
    """Both curation layout ops are zero-shuffle codegen projections with
    column pruning reaching the scan."""
    for name in ("cur_stratified_sample", "cur_zorder_layout"):
        fn, _ = registry.REGISTRY[name]
        plan = _plan(fn(spark, SF_DIR))
        assert "Exchange" not in plan, name
        assert "WholeStageCodegen" in plan or "*(1)" in plan, name


def test_partitioned_events_read_prunes_partitions(spark, tmp_path):
    """The one-day read must carry the date in PartitionFilters (planning-
    time pruning against directory names) and scan only that partition —
    no post-scan date filter over other days' rows."""
    from bulkfhirloader_spark.sources import partitioned

    events = spark.createDataFrame(
        [(i, f"2024-01-{1 + i % 3:02d} 12:00:00", i % 5) for i in range(60)],
        "event_id long, ts_s string, user_id long",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    path = str(tmp_path / "ev")
    partitioned.write_events_partitioned(events, path)
    day = partitioned.read_events_day(spark, path, "2024-01-02")
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    got = day.count()
    assert got == 20
    # one file per day: the repartition(event_date) write collapses
    # tasks x partitions into one file per directory
    import glob

    files = glob.glob(f"{path}/event_date=2024-01-02/*.parquet")
    assert len(files) == 1, files


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    """compact_store on a store shattered into many tiny files must (a)
    round-trip every row exactly, (b) cut the per-day file count to ~rows/
    target, and (c) never mix days in one output file beyond the Hive
    layout (files live under their event_date= dirs by construction)."""
    import glob
    import os

    from bulkfhirloader_spark.sources import partitioned

    events = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "store")
    # shatter: many tasks x partitionBy => small files per day
    events.repartition(16).withColumn(
        "event_date", F.to_date("ts")
    ).write.partitionBy("event_date").parquet(src)
    n_src_files = len(glob.glob(os.path.join(src, "event_date=*", "*.parquet")))

    out = str(tmp_path / "compact")
    partitioned.compact_store(spark, src, out, target_rows_per_file=10_000)
    n_out_files = len(glob.glob(os.path.join(out, "event_date=*", "*.parquet")))
    assert n_out_files < n_src_files / 4, (n_src_files, n_out_files)

    a = spark.read.parquet(src)
    b = spark.read.parquet(out)
    assert a.count() == b.count()
    assert a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def test_select_for_training_is_one_scan_plus_survivorship(spark):
    """The selection policy computes its quality/language features AND the
    exact-dedup content sha in ONE document scan (r8 fusion, tightened
    r16): survivorship is a row_number window over the sha — no second
    corpus scan, no sha aggregation, no semi join at all — so the whole
    plan is one scan, the sha-keyed window (whose rank<=1 filter compiles
    to WindowGroupLimit), and the per-source-cap window.  The pre-fusion
    shape (scan-per-feature + equi-join-per-feature) re-shuffled the full
    corpus twice; the r8-r15 shape still paid a second scan + sha
    aggregate + id-keyed semi join; this pins both out for good."""
    fn, _ = registry.REGISTRY["cur_select_for_training"]
    plan = _plan(fn(spark, SF_DIR))
    assert plan.count("Scan parquet") == 1, plan.count("Scan parquet")
    assert "Join" not in plan
    # map-side partial group limit for the dedup-survivor rank
    assert "WindowGroupLimit" in plan


def test_incremental_admission_small_tier_returns_scan_filter(spark):
    """At harness scale the admission query takes the size-gated driver
    tier: the heavy band-join/verify phases run at construction behind
    checkpoints, and the RETURNED plan is a plain pruned scan + filter —
    no Exchange, no join.  (The distributed tier's shape is exercised via
    local_threshold=0 in test_dedup_similarity.py.)"""
    from bulkfhirloader_spark.operators import dedup as dedup_ops

    # drop any admitted-set memo a prior test left: a warm hit returns
    # the (also fine) one-semi-join read plan; the pin targets the cold
    # small-tier shape
    dedup_ops._ADMIT_MEMO.clear()
    fn, _ = registry.REGISTRY["dedup_incremental_admission"]
    plan = _plan(fn(spark, SF_DIR))
    assert "Exchange" not in plan and "Join" not in plan
    assert "PushedFilters" in plan and "Not(In(doc_id" in plan


def test_bucketed_signature_store_probe_prunes_buckets(spark, tmp_path):
    """r12: the bucketed band table's probe shape — an IN filter on
    band_hash feeding a band_hash-keyed join — must keep the bucketed
    scan (Bucketed: true), push the IN to parquet, select only the
    buckets the probed hashes land in (SelectedBucketsCount < total),
    and need no Exchange above the bucketed side."""
    import io
    from contextlib import redirect_stdout

    from bulkfhirloader_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * 131 + j) % 997}" for j in range(30)))
         for i in range(200)],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bkt")
    dedup.signature_store_write(
        docs, store, num_hashes=16, shingle_words=3, bands=8, num_buckets=8
    )
    table = dedup.register_signature_bands_table(spark, store)
    # DISTINCT: the bands file is sorted by band_hash, so a plain limit(3)
    # can return one value three times — Catalyst folds a single-value IN
    # to EqualTo and the In(...) pushdown assertion below goes flaky
    some_hashes = [
        r.band_hash
        for r in spark.table(table).select("band_hash").distinct().limit(3).collect()
    ]
    assert len(set(some_hashes)) == 3
    probe = spark.table(table).where(F.col("band_hash").isin(some_hashes))
    new_side = spark.range(10).select(
        F.xxhash64("id").alias("band_hash"), F.col("id").alias("nid")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with redirect_stdout(buf):
            new_side.join(probe, "band_hash").explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "Bucketed: true" in plan, plan
    assert "In(band_hash" in plan, plan
    sel = [ln for ln in plan.splitlines() if "SelectedBucketsCount" in ln]
    assert sel, plan
    picked, total = sel[0].split(":")[1].split(" out of ")
    assert int(picked) < int(total) == 8, sel[0]


def test_streaming_gate_static_side_joins_from_cached_partitioning(spark, tmp_path):
    """r11: the gate caches its static banded side repartitioned+sorted on
    the join keys, so per micro-batch only the STREAM side shuffles — a
    plain persist left the whole shingle-array-carrying static Exchange
    re-running every batch (measured ~150 s/batch at a 2M-doc store vs
    ≤13 s of scan; SCALE.md round-11).  Pin the plan property: in the
    micro-batch plan (broadcast disabled so the join is the at-scale
    SortMergeJoin), exactly ONE ENSURE_REQUIREMENTS Exchange partitions
    on the band keys, and the static side is an InMemoryTableScan whose
    fresh work above the cache is at most a Sort."""
    import os as _os

    from bulkfhirloader_spark.streaming.joins import stream_near_dup_admission

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta w{i} w{i + 1} w{i + 2}")
         for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path)
    docs.where("doc_id % 2 = 1").repartition(2).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = stream_near_dup_admission(stream, docs.where("doc_id % 2 = 0"))
        q = (
            gated.writeStream.format("memory")
            .queryName("plan_gate_cache")
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "InMemoryTableScan" in plan
    fresh_band_exchanges = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(band_hash" in ln and "ENSURE_REQUIREMENTS" in ln
    ]
    # the stream side's shuffle is the only per-batch band-key Exchange;
    # the static side's band-key Exchange exists only inside the cached
    # plan's one-time fill lineage (REPARTITION_BY_COL under the
    # InMemoryRelation)
    assert len(fresh_band_exchanges) == 1, plan


def test_streaming_gate_bucketed_store_static_side_has_zero_exchange(
    spark, tmp_path
):
    """r12 (the r11 prototype shipped): a gate built over a BUCKETED
    banded store satisfies the join's static-side distribution from
    LAYOUT — the micro-batch plan from a fresh catalog (table dropped and
    re-attached via register_banded_table, the restart case) has ZERO
    static-side Exchange anywhere, including the cache-fill lineage: the
    only band-key Exchange in the whole plan is the stream side's
    ENSURE_REQUIREMENTS shuffle, and the static scan is Bucketed: true.
    The non-bucketed cached tier, by contrast, carries its one-time
    REPARTITION_BY_COL fill Exchange under the InMemoryRelation."""
    import os as _os

    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_write,
        register_banded_table,
        stream_near_dup_admission,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta w{i} w{i + 1} w{i + 2}")
         for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path)
    store = f"{src}/store"
    banded_signature_store_write(
        docs.where("doc_id % 2 = 0"), store, num_buckets=8
    )
    # simulate the cluster restart the layout exists for: the in-memory
    # catalog forgets the table; register_banded_table re-attaches it
    # from the store meta without touching data
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_banded', store)}`")
    register_banded_table(spark, store)
    docs.where("doc_id % 2 = 1").repartition(2).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = stream_near_dup_admission(stream, banded_store=store)
        q = (
            gated.writeStream.format("memory")
            .queryName("plan_gate_bucketed")
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
    band_exchanges = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning(band_hash" in ln
    ]
    # ONE band-key Exchange in the WHOLE plan (stream side) — no
    # REPARTITION_BY_COL fill lineage, no static-side shuffle at all
    assert len(band_exchanges) == 1, plan
    assert "ENSURE_REQUIREMENTS" in band_exchanges[0], plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_streaming_semantic_gate_stored_static_side_has_zero_exchange(
    spark, tmp_path
):
    """r13 (mirror of the banded gate's bucketed-store assertion): a
    semantic gate built over a BUCKETED semantic store satisfies the anti
    join's static-side distribution from LAYOUT — the micro-batch plan
    from a fresh catalog (table dropped, re-attached by the gate itself —
    the restart case) has ZERO static-side Exchange anywhere: the only
    cluster-key Exchange in the whole plan is the stream side's
    ENSURE_REQUIREMENTS shuffle, the static scan is Bucketed: true, and
    there is no REPARTITION_BY_COL cache-fill lineage at all."""
    import os as _os

    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        semantic_store_write,
        stream_semantic_admission,
    )

    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    existing = spark.createDataFrame(
        [(i, [1.0, float(i % 7) / 10.0, 0.0]) for i in range(0, 20, 2)],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path)
    store = f"{src}/semstore"
    semantic_store_write(existing, store, cents, num_buckets=8)
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_semstore', store)}`")

    spark.createDataFrame(
        [(i, [float(i % 5) / 10.0, 1.0, 0.0]) for i in range(1, 20, 2)],
        "vec_id long, embedding array<double>",
    ).repartition(2).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = stream_semantic_admission(stream, semantic_store=store)
        q = (
            gated.writeStream.format("memory")
            .queryName("plan_sem_gate_stored")
            .outputMode("append")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
    # the streaming sink wrapper renders the physical plan twice, so count
    # ATTRIBUTES, not lines: the static side's cluster_id (the attr inside
    # the InMemoryRelation over the bucketed scan) must appear in NO
    # Exchange — every cluster-key Exchange is the stream side's
    # ENSURE_REQUIREMENTS shuffle — and there is no REPARTITION_BY_COL
    # cache-fill lineage anywhere
    import re as _re

    static_attrs = {
        m.group(1)
        for ln in plan.splitlines()
        if "InMemoryRelation [" in ln
        for m in [_re.search(r"cluster_id#(\d+)", ln)]
        if m
    }
    exchange_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(cluster_id" in ln
    ]
    exchange_attrs = {
        _re.search(r"Exchange hashpartitioning\(cluster_id#(\d+)", ln).group(1)
        for ln in exchange_lines
    }
    assert static_attrs and exchange_attrs, plan
    assert exchange_attrs.isdisjoint(static_attrs), plan
    assert all("ENSURE_REQUIREMENTS" in ln for ln in exchange_lines), plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_streaming_winnow_gate_stored_static_side_has_zero_exchange(
    spark, tmp_path
):
    """r14 (fourth instance of the stored-gate plan contract): a winnow
    gate built over a BUCKETED fingerprint store satisfies the anti
    join's static-side distribution from LAYOUT — zero static-side
    Exchange from a fresh catalog; the only fp_hash Exchange in the plan
    is the stream side's ENSURE_REQUIREMENTS shuffle, the static scan is
    Bucketed: true, no REPARTITION_BY_COL cache-fill lineage."""
    import os as _os

    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        stream_winnow_admission,
        winnow_store_write,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta w{i} w{i + 1} w{i + 2}")
         for i in range(20)],
        "doc_id long, text string",
    )
    src = str(tmp_path)
    store = f"{src}/wstore"
    winnow_store_write(docs.where("doc_id % 2 = 0"), store, num_buckets=8)
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_winnow', store)}`")
    docs.where("doc_id % 2 = 1").repartition(2).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = stream_winnow_admission(stream, winnow_store=store)
        q = (
            gated.writeStream.format("memory")
            .queryName("plan_winnow_gate_stored")
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
    import re as _re

    static_attrs = {
        m.group(1)
        for ln in plan.splitlines()
        if "InMemoryRelation [" in ln
        for m in [_re.search(r"fp_hash#(\d+)", ln)]
        if m
    }
    exchange_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(fp_hash" in ln
    ]
    exchange_attrs = {
        _re.search(r"Exchange hashpartitioning\(fp_hash#(\d+)", ln).group(1)
        for ln in exchange_lines
    }
    assert static_attrs and exchange_attrs, plan
    assert exchange_attrs.isdisjoint(static_attrs), plan
    assert all("ENSURE_REQUIREMENTS" in ln for ln in exchange_lines), plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_streaming_image_gate_stored_static_side_has_zero_exchange(
    spark, tmp_path
):
    """r14 (r13 verdict #5 — third instance of the stored-gate plan
    contract): an image gate built over a BUCKETED perceptual-hash store
    satisfies the anti join's static-side distribution from LAYOUT — the
    micro-batch plan from a fresh catalog (table dropped, re-attached by
    the gate itself — the restart case) has ZERO static-side Exchange:
    the only band_key Exchange in the whole plan is the stream side's
    ENSURE_REQUIREMENTS shuffle, the static scan is Bucketed: true, and
    there is no REPARTITION_BY_COL cache-fill lineage at all."""
    import os as _os

    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import multimodal as mm
    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        image_hash_store_write,
        stream_image_admission,
    )

    static_ids = spark.createDataFrame(
        [(i,) for i in range(0, 40, 4)], "media_id long"
    )
    static_hashes = mm.image_ahash(mm.synthetic_ppm_media(static_ids))
    src = str(tmp_path)
    store = f"{src}/imgstore"
    image_hash_store_write(static_hashes, store, num_buckets=8)
    # simulate the cluster restart the layout exists for
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_imghash', store)}`")

    mm.synthetic_ppm_media(
        spark.createDataFrame([(i,) for i in range(1, 40, 4)], "media_id long")
    ).withColumn("media_id", F.col("media_id") + F.lit(1000)).repartition(
        2
    ).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        gated = stream_image_admission(stream, hash_store=store)
        q = (
            gated.writeStream.format("memory")
            .queryName("plan_img_gate_stored")
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
    import re as _re

    static_attrs = {
        m.group(1)
        for ln in plan.splitlines()
        if "InMemoryRelation [" in ln
        for m in [_re.search(r"band_key#(\d+)", ln)]
        if m
    }
    exchange_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(band_key" in ln
    ]
    exchange_attrs = {
        _re.search(r"Exchange hashpartitioning\(band_key#(\d+)", ln).group(1)
        for ln in exchange_lines
    }
    assert static_attrs and exchange_attrs, plan
    assert exchange_attrs.isdisjoint(static_attrs), plan
    assert all("ENSURE_REQUIREMENTS" in ln for ln in exchange_lines), plan
    assert "REPARTITION_BY_COL" not in plan, plan


def test_stream_sim_topk_bucketed_lists_static_side_has_zero_exchange(
    spark, tmp_path
):
    """r15 (r14 verdict #2 — FIFTH instance of the stored-layout plan
    contract, this one on a serving join rather than an admission gate):
    stream_sim_topk over the DERIVED bucketed lists mirror
    (ivf_lists_bucketed_write) satisfies the probe join's static-side
    distribution from LAYOUT — the micro-batch plan from a fresh catalog
    (table dropped, re-attached by the prober itself — the restart case)
    has ZERO static-side Exchange: the only _cluster Exchange in the
    whole plan is the stream side's ENSURE_REQUIREMENTS shuffle, the
    static scan is Bucketed: true, and there is no REPARTITION_BY_COL
    cache-fill lineage at all."""
    import os as _os
    import re as _re

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        ivf_lists_bucketed_write,
        stream_sim_topk,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0]) for i in range(20, 60)],
        "vec_id long, embedding array<double>",
    )
    src = str(tmp_path)
    index = f"{src}/ivf"
    sim.build_ivf_index(corpus, index, n_clusters=4)
    ivf_lists_bucketed_write(spark, index, num_buckets=8)
    # simulate the cluster restart the layout exists for
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_ivflists', index)}`")
    spark.createDataFrame(
        [(i, [float(i % 4), float((i * 5) % 7), 1.0]) for i in range(4)],
        "query_id long, query_vec array<double>",
    ).repartition(2).write.parquet(f"{src}/in")
    schema = spark.read.parquet(f"{src}/in").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(f"{src}/in")
    )
    prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        served = stream_sim_topk(
            stream, index, k=3, n_probe=2, bucketed_lists=True
        )
        q = (
            served.writeStream.format("memory")
            .queryName("plan_simtopk_bucketed")
            .outputMode("update")
            .option("checkpointLocation", _os.path.join(src, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        plan = q._jsq.explainInternal(True)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan, plan
    static_attrs = {
        m.group(1)
        for ln in plan.splitlines()
        if "InMemoryRelation [" in ln
        for m in [_re.search(r"_cluster#(\d+)", ln)]
        if m
    }
    exchange_lines = [
        ln
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(_cluster" in ln
    ]
    exchange_attrs = {
        _re.search(r"Exchange hashpartitioning\(_cluster#(\d+)", ln).group(1)
        for ln in exchange_lines
    }
    assert static_attrs and exchange_attrs, plan
    assert exchange_attrs.isdisjoint(static_attrs), plan
    assert all("ENSURE_REQUIREMENTS" in ln for ln in exchange_lines), plan
    assert "REPARTITION_BY_COL" not in plan, plan
