"""Session settings that change what a warm query costs (session.get_spark)."""

from __future__ import annotations

from conftest import SF_DIR
from bulkfhirloader_spark.queries.registry import REGISTRY

# Cheap headline queries whose generated classes together outnumber Spark's
# default codegen cache (100 entries): about 140 compiles per cold pass.
# Each has one whole-stage-codegen stage numbering from run to run.  A query
# whose independent stages AQE may plan in either order (such as
# ext_bloom_semi_lineitem) numbers them differently on some runs; the stage
# id is part of the generated class name, so such a run compiles new
# classes however large the cache, and the query is left out.
WARM_SET = (
    "q1_lineitem_pricing",
    "q3_top_unshipped_orders",
    "q5_supplier_volume",
    "ext_topk_customers_by_nation",
    "win_session",
    "ext_funnel_conversion",
    "cur_latest_event_per_user",
    "ref_a1_population_facts",
    "ref_a2_disease_facts",
    "dedup_exact",
    "text_quality_stats",
)


def _compiles(spark) -> int:
    """Generated classes the driver JVM has compiled so far (codegen cache
    misses)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark) -> int:
    before = _compiles(spark)
    for name in WARM_SET:
        REGISTRY[name][0](spark, SF_DIR).collect()
    return _compiles(spark) - before


def test_warm_pass_recompiles_no_generated_class(spark):
    """A second pass of the same queries finds every generated class in the
    codegen cache.  With the default 100-entry LRU cache, the ~140 classes
    of one pass evict each other, and every warm pass recompiles them."""
    _pass(spark)
    assert _pass(spark) == 0
