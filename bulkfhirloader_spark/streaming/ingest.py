"""Structured Streaming ingest — the continuous variant of the batch
pipeline (SURVEY §2.8/§7).

The reference is a finite batch job: walk directory, process every file,
barrier, run stats (main.go:111-121).  `Trigger.AvailableNow` reproduces
exactly that contract ("process everything currently in the directory,
then stop") while also giving exactly-once file tracking via the
checkpoint — so re-running the job skips already-ingested bundles, which
the reference cannot do (it re-inserts).

The transformation is THE SAME code as batch ingest: ID assignment and
reference rewriting run inside foreachBatch on each micro-batch
DataFrame.  Per-bundle operations (groupBy bundle_id) are legal there
because foreachBatch hands us a plain batch DataFrame, which is sized by
its input bytes like the batch scan (size_by_bytes).  The batch builders'
expression trees are built once per JVM, so each micro-batch reuses them.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from bulkfhirloader_spark.ingest.pipeline import (
    assign_ids,
    bundle_id_column,
    explode_entries,
    resource_collection,
    rewrite_references,
    size_by_bytes,
)
from bulkfhirloader_spark.schemas import BUNDLE_SCHEMA


def stream_bundles(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of FHIR bundles (one JSON object per file)."""
    df = (
        spark.readStream.format("json")
        .option("multiLine", "true")
        .option("recursiveFileLookup", "true")
        .option("pathGlobFilter", "*.json")
        .option("maxFilesPerTrigger", "1024")
        .schema(BUNDLE_SCHEMA)
        .load(path)
    )
    # scan-root-relative bundle id — same collision-free scheme as batch
    return df.withColumn("bundle_id", bundle_id_column(path))


def stream_ingest_available_now(
    spark: SparkSession, bundles_path: str, out_dir: str
) -> None:
    """Drain everything currently in ``bundles_path`` into per-collection
    parquet, then stop — the reference's batch contract with streaming
    bookkeeping.  Blocks until the drain completes."""
    stream = stream_bundles(spark, bundles_path)

    def process_batch(batch_df: DataFrame, _batch_id: int) -> None:
        entries = rewrite_references(assign_ids(explode_entries(size_by_bytes(batch_df))))
        entries.withColumn("collection", resource_collection()).write.mode(
            "append"
        ).partitionBy("collection").parquet(os.path.join(out_dir, "resources"))

    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
