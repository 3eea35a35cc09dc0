"""Streaming extension operators: the applyInPandasWithState custom
stateful op and the watermarked tumbling aggregation, both drained with
Trigger.AvailableNow over a multi-file parquet source and checked against
the equivalent batch computation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from bulkfhirloader_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def events_stream_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("events_stream")
    ev = load_table(spark, SF_DIR, "events")
    # several files so availableNow with maxFilesPerTrigger produces
    # multiple micro-batches (state must carry across batches)
    ev.repartition(3).write.parquet(str(root / "in"))
    return root


def test_stateful_running_totals_match_batch(spark, events_stream_env):
    from bulkfhirloader_spark.streaming import running_user_totals

    in_dir = str(events_stream_env / "in")
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("running_totals")
        .outputMode("update")
        .option("checkpointLocation", str(events_stream_env / "ckpt_state"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    # the memory sink holds one emit per (user, micro-batch); the final
    # running total is the emit with the highest n_events per user
    final: dict[int, tuple[int, int]] = {}
    for r in spark.sql("SELECT * FROM running_totals").collect():
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value_cents"])

    batch = spark.read.parquet(in_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
    )
    want = {r["user_id"]: (r["n"], r["cents"]) for r in batch.collect()}
    assert final == want


def test_stream_tumbling_matches_batch(spark, events_stream_env):
    from bulkfhirloader_spark.operators import windows
    from bulkfhirloader_spark.streaming import stream_tumbling_counts

    in_dir = str(events_stream_env / "in")
    schema = spark.read.parquet(in_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(in_dir)
    )
    q = (
        stream_tumbling_counts(stream, "10 minutes")
        .writeStream.format("memory")
        .queryName("tumbling_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(events_stream_env / "ckpt_win"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    got = {
        (r["window_start"], r["event_type"], r["n_events"], r["value_cents"])
        for r in spark.sql("SELECT * FROM tumbling_stream").collect()
    }
    ev = spark.read.parquet(in_dir)
    want = {
        (r["window_start"], r["event_type"], r["n_events"], r["value_cents"])
        for r in windows.tumbling_counts(ev, "10 minutes").collect()
    }
    assert got == want


def test_streaming_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """A duplicate body arriving in a LATER micro-batch must be dropped by
    the dedup state carried from the earlier one."""
    from bulkfhirloader_spark.streaming.stateful import streaming_exact_dedup

    in_dir = tmp_path / "in"
    # file 1: two distinct docs; file 2: one dup of doc 1 + one new doc
    spark.createDataFrame(
        [(1, "alpha body"), (2, "beta body")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(in_dir / "f1"))
    spark.createDataFrame(
        [(3, "alpha body"), (4, "gamma body")], "doc_id long, text string"
    ).coalesce(1).write.parquet(str(in_dir / "f2"))
    schema = spark.read.parquet(str(in_dir / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("t_stream_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = [r["content_sha"] for r in spark.table("t_stream_dedup").collect()]
    assert len(emitted) == 3  # alpha once, beta, gamma
    assert len(set(emitted)) == 3


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Drain the events table through a 3-chunk time-ordered stream and
    compare per-event session tags against the batch sessionize operator.
    Chunks are written SEQUENTIALLY by time range so the file source
    replays them in event-time order (per-user order is what the parity
    guarantee needs); state timeouts firing between chunks must not change
    any assignment (the docstring's safety argument)."""
    from pyspark.sql import Window

    from bulkfhirloader_spark.operators import windows
    from bulkfhirloader_spark.streaming import stream_sessionize

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    bounds = ev.select(
        F.expr(
            "percentile(cast(ts as double), array(cast(1.0/3 as double), cast(2.0/3 as double)))"
        ).alias("b")
    ).first()["b"]
    chunks = [
        ev.filter(F.col("ts").cast("double") <= bounds[0]),
        ev.filter(
            (F.col("ts").cast("double") > bounds[0])
            & (F.col("ts").cast("double") <= bounds[1])
        ),
        ev.filter(F.col("ts").cast("double") > bounds[1]),
    ]
    for i, chunk in enumerate(chunks):  # sequential writes => ordered mod times
        chunk.coalesce(1).write.parquet(str(in_dir / f"chunk-{i:03d}"))

    gap = 1800
    schema = ev.schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )
    q = (
        stream_sessionize(stream, gap_seconds=gap)
        .writeStream.format("memory")
        .queryName("sessionized")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["event_id"]: (r["user_id"], r["ts_epoch_us"], r["session_start_us"])
        for r in spark.sql("SELECT * FROM sessionized").collect()
    }

    batch = windows.sessionize(ev, gap_seconds=gap).withColumn(
        "session_start_us",
        F.min("ts_epoch_us").over(
            Window.partitionBy("user_id", "session_seq")
        ),
    )
    want = {
        r["event_id"]: (r["user_id"], r["ts_epoch_us"], r["session_start_us"])
        for r in batch.collect()
    }
    assert len(got) == len(want)
    assert got == want


def test_stream_interval_join_matches_batch(spark, tmp_path):
    """Clicks x purchases within 30 minutes, drained as two streams over
    time-ordered chunks: the emitted pair set must equal the batch
    inequality join exactly (inner interval joins are order-insensitive;
    in-order replay makes them eviction-loss-free for any watermark)."""
    from bulkfhirloader_spark.streaming import stream_interval_join

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    mid = ev.select(
        F.expr("percentile(cast(ts as double), cast(0.5 as double))").alias("m")
    ).first()["m"]
    for i, chunk in enumerate(
        [
            ev.filter(F.col("ts").cast("double") <= mid),
            ev.filter(F.col("ts").cast("double") > mid),
        ]
    ):
        chunk.coalesce(1).write.parquet(str(in_dir / f"chunk-{i:03d}"))

    schema = ev.schema

    def read_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(in_dir / "*"))
        )

    clicks = (
        read_stream()
        .filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        read_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("p_event_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
    )
    q = (
        stream_interval_join(clicks, purchases, lookback_seconds=1800)
        .select("event_id", "p_event_id")
        .writeStream.format("memory")
        .queryName("interval_joined")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["event_id"], r["p_event_id"])
        for r in spark.sql("SELECT * FROM interval_joined").collect()
    }

    c = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros("ts").alias("us")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"),
        F.col("user_id").alias("p_user_id"),
        F.unix_micros("ts").alias("p_us"),
    )
    want = {
        (r["event_id"], r["p_event_id"])
        for r in c.join(
            p,
            (c["user_id"] == p["p_user_id"])
            & (p["p_us"] >= c["us"] - 1800 * 1_000_000)
            & (p["p_us"] <= c["us"]),
        ).collect()
    }
    assert want, "fixture must produce at least one pair"
    assert got == want


def test_stream_transitions_chain_across_batches(spark, tmp_path):
    """Two time-ordered files, one event per user in EACH -> every
    transition spans the micro-batch boundary, so a correct result is
    possible only if the GroupState cursor hands batch 1's last event to
    batch 2 (a stateless per-batch count would emit zero rows)."""
    import datetime as dt

    from bulkfhirloader_spark.streaming.stateful import stream_transitions

    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    rows1 = [(1, ts(1), 1, "signup"), (2, ts(2), 2, "view")]
    rows2 = [(3, ts(3), 1, "click"), (4, ts(4), 2, "purchase")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-0")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_transitions(stream)
        .writeStream.format("memory")
        .queryName("stream_transitions_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.prev_type, r.next_type): r.n
        for r in spark.sql(
            "SELECT prev_type, next_type, sum(n) AS n FROM stream_transitions_t "
            "GROUP BY 1, 2"
        ).collect()
    }
    assert got == {("signup", "click"): 1, ("view", "purchase"): 1}


def test_stream_transitions_replay_glitch_detectable_not_corrupting(spark, tmp_path):
    """Out-of-order replay guard: batch 2 delivers one event OLDER than the
    stored cursor plus one fresh event.  The stale event must not emit a
    bogus boundary pair nor regress the cursor; it surfaces as the labeled
    ('__out_of_order__', '__dropped__') diagnostic row, and the fresh event
    still chains off the (unregressed) cursor."""
    import datetime as dt
    import time as _time

    from bulkfhirloader_spark.streaming.stateful import stream_transitions

    def ts(m):
        return dt.datetime(2024, 1, 1, 0, m)

    # batch 1: user 1 at t3.  batch 2: user 1 at t1 (STALE) and t4 (fresh).
    rows1 = [(3, ts(3), 1, "click")]
    rows2 = [(1, ts(1), 1, "signup"), (4, ts(4), 1, "purchase")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-0")
    )
    _time.sleep(1.1)  # file-source ordering follows mtimes
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_transitions(stream)
        .writeStream.format("memory")
        .queryName("stream_transitions_glitch")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.prev_type, r.next_type): r.n
        for r in spark.sql(
            "SELECT prev_type, next_type, sum(n) AS n FROM stream_transitions_glitch "
            "GROUP BY 1, 2"
        ).collect()
    }
    assert got == {
        ("click", "purchase"): 1,
        ("__out_of_order__", "__dropped__"): 1,
    }


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """The watermark's state-bounding contract, observed from the outside:
    an event arriving after the watermark has EVICTED its window's state
    must be dropped — the mechanism that lets an unbounded stream run in
    bounded memory.  Nuance this test pins deliberately: eviction happens
    at batch boundaries, so a late row landing in the SAME batch whose
    watermark first passes its window still joins the live state (observed
    empirically; Spark guarantees "at least delay tolerated", drop only
    after eviction).  Hence three batches: batch 0 reaches 01:50, batch 1
    advances/evicts (watermark 01:40 closes the 01:00–01:10 window), and
    only then batch 2 delivers the 01:07 straggler — which must vanish
    from the finalized window count."""
    import datetime as dt
    import time

    from bulkfhirloader_spark.streaming import stream_tumbling_counts

    def ts(minute):
        return dt.datetime(2024, 1, 1, 1, minute)

    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    chunks = [
        [(1, ts(0), 1, "view", 1.0), (2, ts(5), 1, "view", 1.0),
         (3, ts(50), 1, "view", 1.0)],
        [(5, ts(55), 1, "view", 1.0)],                    # evicts window 0
        [(4, ts(7), 1, "view", 1.0), (6, ts(58), 1, "view", 1.0)],  # straggler
    ]
    for i, rows in enumerate(chunks):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(tmp_path / "in" / f"chunk-{i}"))
        time.sleep(1.1)  # distinct mtimes => deterministic file replay order
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_tumbling_counts(stream, "10 minutes", watermark="10 minutes")
        .writeStream.format("memory")
        .queryName("late_drop_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start"].minute: r["n_events"]
        for r in spark.sql("SELECT * FROM late_drop_t").collect()
    }
    # the 01:00 window finalized with the 2 on-time events; event 4 (01:07,
    # arriving after eviction) was dropped — a batch GROUP BY would say 3
    assert got.get(0) == 2, got


def test_stream_near_dup_admission_matches_batch_rule(spark, tmp_path):
    """Stream-static near-dup admission: docs drained file-by-file against
    a static existing corpus; a doc near-duplicating the corpus is
    rejected, novel docs are admitted — across micro-batch boundaries,
    with the exact-Jaccard verification living INSIDE the join condition
    (no Python, no state beyond the per-doc band count)."""
    from bulkfhirloader_spark.streaming.joins import stream_near_dup_admission

    base = "the quick brown fox jumps over the lazy dog while rain falls on rooftops"
    uniq1 = "structured streaming bounds its state with watermarks and timeouts"
    uniq2 = "catalyst rewrites logical plans before tungsten generates bytecode"
    existing = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus filler text about parquet footers")],
        "doc_id long, text string",
    )
    batch1 = [(10, base + " slightly changed"), (11, uniq1)]   # 10 -> reject
    batch2 = [(12, uniq2), (13, base + " another tiny change")]  # 13 -> reject
    schema = "doc_id long, text string"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_near_dup_admission(stream, existing)
        .writeStream.format("memory")
        .queryName("stream_admission_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.table("stream_admission_t").collect())
    assert got == [11, 12]


def test_stream_attribution_cross_batch_and_trim_fallback(spark, tmp_path):
    """Batch 1 holds only touches, batch 2 only conversions — every
    attribution must flow through GroupState.  User 1's touch is INSIDE the
    1h lookback at conversion time (both models hit it); user 2's touch is
    older than the lookback, so the windowed model is NULL while the
    unbounded last-touch model must still surface it — after the state trim
    has moved it into the dropped-touch scalar."""
    import datetime as dt

    from bulkfhirloader_spark.streaming.stateful import stream_attribution

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    s = lambda sec: t0 + dt.timedelta(seconds=sec)
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    rows1 = [(1, s(0), 1, "click"), (2, s(0), 2, "view")]
    rows2 = [(3, s(600), 1, "purchase"), (4, s(7200), 2, "purchase")]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-0")
    )
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "chunk-1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_attribution(stream, lookback_seconds=3600)
        .writeStream.format("memory")
        .queryName("stream_attrib_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {r.conversion_event_id: r for r in spark.table("stream_attrib_t").collect()}
    assert got[3].first_touch_event_id == 1
    assert got[3].last_touch_event_id == 1
    # user 2: windowed model empty, unbounded model served from the trim scalar
    assert got[4].first_touch_event_id is None
    assert got[4].last_touch_event_id == 2


def test_stream_near_dup_admission_from_banded_store(spark, tmp_path):
    """The deployment tier of the streaming gate: the static side read
    from a pre-banded signature store must admit EXACTLY what the
    self-contained (text-derived) form admits, `existing` omitted
    entirely; a store built under different geometry must hard-error
    (mismatched bands never collide — the gate would admit everything)."""
    import pytest as _pytest

    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_write,
        stream_near_dup_admission,
    )

    base = "the quick brown fox jumps over the lazy dog while rain falls on rooftops"
    uniq1 = "structured streaming bounds its state with watermarks and timeouts"
    uniq2 = "catalyst rewrites logical plans before tungsten generates bytecode"
    existing = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus filler text about parquet footers")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bandstore")
    banded_signature_store_write(existing, store)

    schema = "doc_id long, text string"
    batch1 = [(10, base + " slightly changed"), (11, uniq1)]
    batch2 = [(12, uniq2), (13, base + " another tiny change")]
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_near_dup_admission(stream, banded_store=store)
        .writeStream.format("memory")
        .queryName("stream_admission_store_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.doc_id for r in spark.table("stream_admission_store_t").collect())
    assert got == [11, 12]  # identical to the self-contained test's verdicts

    # geometry mismatches refuse loudly — on the gate, on read, on append
    with _pytest.raises(ValueError, match="geometry mismatch"):
        stream_near_dup_admission(stream, bands=4, banded_store=store)
    with _pytest.raises(ValueError, match="geometry mismatch"):
        banded_signature_store_write(existing, store, num_hashes=32)
    # neither a corpus nor a store is an error
    with _pytest.raises(ValueError, match="existing"):
        stream_near_dup_admission(stream)
    # both is an error too: the store carries its own static side
    with _pytest.raises(ValueError, match="not both"):
        stream_near_dup_admission(stream, existing, banded_store=store)


def test_banded_store_data_without_meta_refuses_append(spark, tmp_path):
    """Same corrupt-store refusal as the batch signature store: band rows
    without a readable meta must not be appended to under a re-stamped
    geometry."""
    import shutil

    import pytest as _pytest

    from bulkfhirloader_spark.streaming.joins import banded_signature_store_write

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bandstore")
    banded_signature_store_write(docs, store)
    shutil.rmtree(f"{store}/meta.parquet")
    with _pytest.raises(ValueError, match="data but no readable meta"):
        banded_signature_store_write(docs, store)


def test_stream_near_dup_admission_from_bucketed_store(spark, tmp_path):
    """r12: the BUCKETED banded store admits exactly what the plain store
    (and the self-contained form) admits — same verdicts as
    test_stream_near_dup_admission_from_banded_store — including after a
    catalog restart (table dropped, auto-re-attached by the gate) and
    after a bucket-spec-matching append from that restarted catalog.
    Layout mismatches refuse loudly in BOTH directions: a plain append to
    a bucketed store and a bucketed append to a plain store would each
    leave part files whose bucket hashing disagrees with the table spec —
    silently invisible to the pruned join."""
    import pytest as _pytest

    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_read,
        banded_signature_store_write,
        stream_near_dup_admission,
    )

    base = "the quick brown fox jumps over the lazy dog while rain falls on rooftops"
    uniq1 = "structured streaming bounds its state with watermarks and timeouts"
    uniq2 = "catalyst rewrites logical plans before tungsten generates bytecode"
    existing = spark.createDataFrame(
        [(1, base), (2, "unrelated corpus filler text about parquet footers")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "bucketstore")
    banded_signature_store_write(existing, store, num_buckets=4)

    schema = "doc_id long, text string"
    spark.createDataFrame(
        [(10, base + " slightly changed"), (11, uniq1)], schema
    ).coalesce(1).write.parquet(str(tmp_path / "in" / "f0"))
    spark.createDataFrame(
        [(12, uniq2), (13, base + " another tiny change")], schema
    ).coalesce(1).write.parquet(str(tmp_path / "in" / "f1"))

    # catalog restart: the gate must re-attach the table by itself
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_banded', store)}`")

    def run(qname):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(str(tmp_path / "in" / "*")).schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in" / "*"))
        )
        q = (
            stream_near_dup_admission(stream, banded_store=store)
            .writeStream.format("memory")
            .queryName(qname)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{qname}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.doc_id for r in spark.table(qname).collect())

    assert run("stream_admission_bucketed_t") == [11, 12]

    # layout refusals, both directions + bucket-count mismatch
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        banded_signature_store_write(existing, store)  # plain → bucketed
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        banded_signature_store_write(existing, store, num_buckets=8)
    plain = str(tmp_path / "plainstore")
    banded_signature_store_write(existing, plain)
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        banded_signature_store_write(existing, plain, num_buckets=4)

    # append under the matching spec from a restarted catalog, then the
    # rebuilt gate screens against the appended doc too
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_banded', store)}`")
    banded_signature_store_write(
        spark.createDataFrame([(3, uniq1)], schema), store, num_buckets=4
    )
    rows, is_bucketed = banded_signature_store_read(spark, store, 16, 8, 3)
    assert is_bucketed and rows.select("id").distinct().count() == 3
    assert run("stream_admission_bucketed_t2") == [12]  # uniq1 now stored


def test_stream_semantic_admission_matches_batch_rule(spark, tmp_path):
    """Stream-static SEMANTIC admission under a frozen k-means fit: an
    arriving embedding near-duplicating (cos >= threshold) an existing
    SAME-cluster vector is rejected across micro-batch boundaries; a
    cross-cluster near-dup is NOT screened (the SemDeDup recall trade,
    identical to the batch tier); novel vectors are admitted."""
    from bulkfhirloader_spark.streaming.joins import stream_semantic_admission

    # two lobes around [1,0,0] and [0,1,0]; centroids frozen explicitly.
    # Resident id 2 sits NEAR THE CLUSTER BOUNDARY (still cluster 0) so a
    # mirror vector across the boundary is a true cross-cluster near-dup.
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    existing = spark.createDataFrame(
        [
            (2, [0.75, 0.66, 0.0]),  # cluster 0, boundary resident
            (4, [0.0, 1.0, 0.2]),    # cluster 1 resident
        ],
        "vec_id long, embedding array<double>",
    )
    batch1 = [
        (11, [0.76, 0.65, 0.0]),     # cluster 0, cos~0.9999 to id 2 -> reject
        (13, [0.0, 0.0, 1.0]),       # novel direction -> admit (cluster tie->0)
    ]
    # cross-cluster probe: id 2's boundary mirror — lands in cluster 1
    # (0.75 > 0.66 flipped) with cos~0.991 to CLUSTER-0's id 2 and only
    # ~0.74 to its own cluster's resident: unscreened, must be ADMITTED
    batch2 = [
        (15, [0.66, 0.75, 0.0]),
        (17, [0.0, 1.0, 0.21]),      # cluster 1, cos~0.9999 to id 4 -> reject
    ]
    schema = "vec_id long, embedding array<double>"
    spark.createDataFrame(batch1, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    spark.createDataFrame(batch2, schema).coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_semantic_admission(stream, existing, cents, threshold=0.95)
        .writeStream.format("memory")
        .queryName("stream_sem_admission_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r.vec_id: r.cluster_id for r in spark.table("stream_sem_admission_t").collect()}
    assert sorted(rows) == [13, 15]
    assert rows[15] == 1  # the cross-cluster probe really did land in cluster 1
    # sanity: 15 IS a cos>=0.95 near-dup of cluster-0's resident — only the
    # cluster bound (not the score) is what admitted it
    import math
    a, b = [0.66, 0.75, 0.0], [0.75, 0.66, 0.0]
    cos = sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))
    )
    assert cos >= 0.95


def _sem_fixture(spark):
    """Shared semantic-gate fixture (see
    test_stream_semantic_admission_matches_batch_rule for the geometry
    commentary): frozen two-lobe fit, boundary resident, expected
    verdicts [13 admit(c0), 15 admit(c1 cross-cluster), 11/17 reject]."""
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    existing = spark.createDataFrame(
        [(2, [0.75, 0.66, 0.0]), (4, [0.0, 1.0, 0.2])],
        "vec_id long, embedding array<double>",
    )
    return cents, existing


def _sem_stream_run(spark, tmp_path, qname, **gate_kwargs):
    from bulkfhirloader_spark.streaming.joins import stream_semantic_admission

    schema = "vec_id long, embedding array<double>"
    in_dir = tmp_path / "in"
    if not (in_dir / "f0").exists():
        spark.createDataFrame(
            [(11, [0.76, 0.65, 0.0]), (13, [0.0, 0.0, 1.0])], schema
        ).coalesce(1).write.parquet(str(in_dir / "f0"))
        spark.createDataFrame(
            [(15, [0.66, 0.75, 0.0]), (17, [0.0, 1.0, 0.21])], schema
        ).coalesce(1).write.parquet(str(in_dir / "f1"))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(in_dir / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(in_dir / "*"))
    )
    q = (
        stream_semantic_admission(stream, threshold=0.95, **gate_kwargs)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{qname}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(r.vec_id for r in spark.table(qname).collect())


def test_stream_semantic_admission_from_stored(spark, tmp_path):
    """r13 (the r12 verdict's Next round #1): the semantic gate's static
    side read from a pre-assigned semantic store must admit EXACTLY what
    the self-contained (existing, centroids) form admits — `existing`
    AND `centroids` omitted entirely, the frozen fit coming from the
    store.  Conflicting/missing inputs, a re-fit append, and a rounding
    mismatch all refuse loudly."""
    import pytest as _pytest

    from bulkfhirloader_spark.streaming.joins import (
        semantic_store_write,
        stream_semantic_admission,
    )

    cents, existing = _sem_fixture(spark)
    store = str(tmp_path / "semstore")
    semantic_store_write(existing, store, cents)

    got = _sem_stream_run(spark, tmp_path, "sem_stored_t", semantic_store=store)
    assert got == [13, 15]  # identical to the self-contained test's verdicts

    # store + explicit corpus/fit is a contract violation, not a merge
    with _pytest.raises(ValueError, match="not both"):
        stream_semantic_admission(
            existing, existing, cents, semantic_store=store
        )
    with _pytest.raises(ValueError, match="existing"):
        stream_semantic_admission(existing)
    # a re-fit append refuses: rows assigned under a different fit would
    # sit in the wrong cluster partitions
    refit = [(0, [0.0, 0.0, 1.0]), (1, [0.0, 1.0, 0.0])]
    with _pytest.raises(ValueError, match="fit mismatch"):
        semantic_store_write(existing, store, refit)
    # rounding contract is geometry too
    with _pytest.raises(ValueError, match="geometry mismatch"):
        semantic_store_write(existing, store, cents, round_dp=4)
    # creation without a fit is refused; append without one uses the
    # stored fit (screens exactly as before)
    with _pytest.raises(ValueError, match="frozen `centroids` fit"):
        semantic_store_write(existing, str(tmp_path / "nofit"))


def test_semantic_store_data_without_meta_refuses_append(spark, tmp_path):
    """Same corrupt-store refusal as both signature stores."""
    import shutil

    import pytest as _pytest

    from bulkfhirloader_spark.streaming.joins import semantic_store_write

    cents, existing = _sem_fixture(spark)
    store = str(tmp_path / "semstore")
    semantic_store_write(existing, store, cents)
    shutil.rmtree(f"{store}/meta.parquet")
    with _pytest.raises(ValueError, match="data but no readable meta"):
        semantic_store_write(existing, store, cents)


def test_stream_semantic_admission_from_bucketed_store(spark, tmp_path):
    """r13: the BUCKETED semantic store admits exactly what the plain
    store (and the self-contained form) admits — including after a
    catalog restart (table dropped, auto-re-attached by the gate) and
    after a fit-matching append from that restarted catalog: the
    appended vector screens only from the NEXT gate construction (the
    banded store's snapshot/append contract, r12 verdict #7).  Layout
    mismatches refuse loudly in both directions."""
    import pytest as _pytest

    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.streaming.joins import (
        semantic_store_read,
        semantic_store_write,
    )

    cents, existing = _sem_fixture(spark)
    store = str(tmp_path / "semstore")
    semantic_store_write(existing, store, cents, num_buckets=4)

    # catalog restart: the gate must re-attach the table by itself
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_semstore', store)}`")
    got = _sem_stream_run(spark, tmp_path, "sem_bucketed_t", semantic_store=store)
    assert got == [13, 15]

    # layout refusals, both directions + bucket-count mismatch
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        semantic_store_write(existing, store, cents)
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        semantic_store_write(existing, store, cents, num_buckets=8)
    plain = str(tmp_path / "plainstore")
    semantic_store_write(existing, plain, cents)
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        semantic_store_write(existing, plain, cents, num_buckets=4)

    # append 13's own direction under the STORED fit (centroids omitted)
    # from a restarted catalog: a REBUILT gate now rejects 13; 15 stays
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_semstore', store)}`")
    semantic_store_write(
        spark.createDataFrame(
            [(6, [0.0, 0.0, 1.0])], "vec_id long, embedding array<double>"
        ),
        store,
        num_buckets=4,
    )
    rows, got_cents, is_bucketed = semantic_store_read(spark, store)
    assert is_bucketed and got_cents == sorted(cents)
    assert rows.count() == 3
    assert _sem_stream_run(spark, tmp_path, "sem_bucketed_t2",
                           semantic_store=store) == [15]


def test_stream_semantic_admission_blas_tier_matches_fold(spark, tmp_path):
    """r13 (r12 verdict #2): the gate's Arrow/dgemm stream-side assignment
    must admit exactly what the fold tier admits (the kmeans fold-vs-blas
    parity stance, pinned on separated data) — here over the STORED
    static tier, the deployment pairing."""
    from bulkfhirloader_spark.streaming.joins import semantic_store_write

    cents, existing = _sem_fixture(spark)
    store = str(tmp_path / "semstore")
    semantic_store_write(existing, store, cents, num_buckets=4)
    fold = _sem_stream_run(
        spark, tmp_path, "sem_fold_t", semantic_store=store
    )
    blas = _sem_stream_run(
        spark, tmp_path, "sem_blas_t", semantic_store=store, assign_tier="blas"
    )
    assert fold == blas == [13, 15]
    # derived-static pairing too (stream side is the only tiered side)
    blas2 = _sem_stream_run(
        spark, tmp_path, "sem_blas2_t",
        existing=existing, centroids=cents, assign_tier="blas",
    )
    assert blas2 == [13, 15]


def test_semantic_assigned_fold_drops_null_ids_like_blas(spark):
    """r14 (r13 advice): the fold assignment must filter NULL ids the way
    the blas tier already does — a NULL-id row written into a semantic
    store silently never screens anything (the gate's id_s != id_e
    predicate evaluates NULL → no anti-join match), and fold-vs-blas
    store parity would diverge on NULL-id corpora."""
    from bulkfhirloader_spark.streaming.joins import (
        _semantic_assigned,
        _semantic_assigned_blas,
    )

    cents = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]
    emb = spark.createDataFrame(
        [(1, [1.0, 0.1]), (None, [0.9, 0.2]), (2, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    fold = _semantic_assigned(emb, cents, "vec_id", "embedding", 6, "")
    blas = _semantic_assigned_blas(emb, cents, "vec_id", "embedding", 6, "")
    key = lambda r: (r["id"], r["cluster_id"], list(r["v"]), r["n"])
    f_rows = sorted(map(key, fold.collect()))
    assert f_rows == sorted(map(key, blas.collect()))
    assert [r[0] for r in f_rows] == [1, 2]  # the NULL-id row is out


def test_semantic_store_blas_write_matches_fold(spark, tmp_path):
    """r13: a store written with assign_tier='blas' must hold row-for-row
    identical (cluster_id, id, vec, norm) to the fold-written store on
    separated data — the vector and norm are bit-identical by
    construction (same cast, same JVM-side l2_norm fold); only the argmax
    is numpy's, pinned here like every fold-vs-blas pair."""
    from bulkfhirloader_spark.streaming.joins import (
        semantic_store_read,
        semantic_store_write,
    )

    cents, existing = _sem_fixture(spark)
    semantic_store_write(existing, str(tmp_path / "fold"), cents)
    semantic_store_write(
        existing, str(tmp_path / "blas"), cents, assign_tier="blas"
    )
    fold_rows, _, _ = semantic_store_read(spark, str(tmp_path / "fold"))
    blas_rows, _, _ = semantic_store_read(spark, str(tmp_path / "blas"))
    key = lambda r: (r["cluster_id"], r["id"], list(r["vec"]), r["norm"])
    assert sorted(map(key, fold_rows.collect())) == sorted(
        map(key, blas_rows.collect())
    )


def test_stream_sim_topk_matches_batch_prober(spark, tmp_path):
    """r14 streaming top-k over the stored IVF index: per-micro-batch
    answers must equal similarity.query_ivf_index's on the same index,
    queries, k, and n_probe — same probe expression, same exact cosine,
    same (score desc, id asc) ranking contract — at exhaustive AND
    sparse probes; config guards refuse."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.streaming.joins import stream_sim_topk

    corpus = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0]) for i in range(20, 60)],
        "vec_id long, embedding array<double>",
    )
    index = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, index, n_clusters=4)
    queries = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 5) % 7), 1.0]) for i in range(4)],
        "query_id long, query_vec array<double>",
    )
    queries.where("query_id < 2").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    queries.where("query_id >= 2").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )

    def run(name, k, n_probe):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(str(tmp_path / "in" / "*")).schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in" / "*"))
        )
        q = (
            stream_sim_topk(stream, index, k=k, n_probe=n_probe)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
            for r in spark.table(name).collect()
        )

    for k, n_probe, name in ((3, 4, "simtopk_full"), (3, 1, "simtopk_sparse")):
        batch = sorted(
            (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
            for r in sim.query_ivf_index(
                spark, index, queries, k=k, n_probe=n_probe
            ).collect()
        )
        assert run(name, k, n_probe) == batch and len(batch) > 0, name
    with _pytest.raises(ValueError, match="n_probe"):
        stream_sim_topk(
            spark.readStream.schema(
                spark.read.parquet(str(tmp_path / "in" / "*")).schema
            ).parquet(str(tmp_path / "in" / "*")),
            index,
            n_probe=99,
        )


def test_stream_sim_topk_dedupes_candidates(spark, tmp_path):
    """r15 (r14 advice): a candidate surfacing more than once — duplicate
    stored ids after a blind re-append — must occupy at most ONE of the k
    slots (best score), never displace legitimate neighbors; the result
    equals the batch prober's dedupe_ids=True contract."""
    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.streaming.joins import stream_sim_topk

    corpus = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0]) for i in range(20, 40)],
        "vec_id long, embedding array<double>",
    )
    index = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, index, n_clusters=2)
    # blind re-append of the same rows: every stored id now duplicated
    sim.append_ivf_index(corpus, index)
    queries = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 5) % 7), 1.0]) for i in range(3)],
        "query_id long, query_vec array<double>",
    )
    queries.coalesce(1).write.parquet(str(tmp_path / "in" / "f0"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "in" / "*")).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_sim_topk(stream, index, k=4, n_probe=2)
        .writeStream.format("memory")
        .queryName("simtopk_dups")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_dups"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("simtopk_dups").collect()
    per_q: dict = {}
    for r in got:
        per_q.setdefault(r["query_id"], []).append(r["vec_id"])
    for qid, ids in per_q.items():
        assert len(ids) == len(set(ids)) == 4, (qid, ids)
    batch = sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in sim.query_ivf_index(
            spark, index, queries, k=4, n_probe=2, dedupe_ids=True
        ).collect()
    )
    assert sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in got
    ) == batch


def test_stream_sim_topk_bucketed_and_pruned_match_batch(spark, tmp_path):
    """r15 (r14 verdict #2): the bucketed-mirror tier and the
    foreachBatch batch-prober tier must both answer identically to the
    batch prober on the same index/queries/k/n_probe; a prober asked for
    the bucketed tier on an index with no derived mirror refuses."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.streaming.joins import (
        ivf_lists_bucketed_write,
        stream_sim_topk,
        stream_sim_topk_batch_prober,
    )

    corpus = spark.createDataFrame(
        [(i, [float((i * 7) % 11), float((i * 3) % 5), 1.0]) for i in range(20, 60)],
        "vec_id long, embedding array<double>",
    )
    index = str(tmp_path / "ivf")
    sim.build_ivf_index(corpus, index, n_clusters=4)
    queries = spark.createDataFrame(
        [(i, [float(i % 4), float((i * 5) % 7), 1.0]) for i in range(4)],
        "query_id long, query_vec array<double>",
    )
    queries.where("query_id < 2").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    queries.where("query_id >= 2").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )
    schema = spark.read.parquet(str(tmp_path / "in" / "*")).schema

    def make_stream():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in" / "*"))
        )

    # no mirror yet: the bucketed tier must refuse, not silently fall back
    with _pytest.raises(ValueError, match="no bucketed lists mirror"):
        stream_sim_topk(make_stream(), index, k=3, n_probe=2, bucketed_lists=True)
    ivf_lists_bucketed_write(spark, index, num_buckets=8)

    batch = sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in sim.query_ivf_index(
            spark, index, queries, k=3, n_probe=2
        ).collect()
    )
    q = (
        stream_sim_topk(make_stream(), index, k=3, n_probe=2, bucketed_lists=True)
        .writeStream.format("memory")
        .queryName("simtopk_bkt")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt_bkt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got_bkt = sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in spark.table("simtopk_bkt").collect()
    )
    assert got_bkt == batch and len(batch) > 0

    out_dir = str(tmp_path / "out_pruned")

    def sink(df, _bid):
        df.write.mode("append").parquet(out_dir)

    q2 = (
        make_stream()
        .writeStream.foreachBatch(
            stream_sim_topk_batch_prober(index, sink, k=3, n_probe=2)
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_pruned"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    got_pruned = sorted(
        (r["query_id"], r["vec_id"], round(r["score"], 9), r["rank"])
        for r in spark.read.parquet(out_dir).collect()
    )
    assert got_pruned == batch


def _winnow_gate_fixture(spark, tmp_path):
    """Static corpus + a 2-file stream: doc 101 shares an 8-token run
    with static doc 2 (must reject — deterministic guarantee), 102 is
    disjoint-vocab novel (admit), 103 has < k tokens (no fingerprints —
    admit), 104 shares only a sub-guarantee 3-token run with doc 4
    (3 < window + k - 1 = 6: MAY or may not share a fingerprint; kept
    out of assertions)."""
    run8 = "w1 w2 w3 w4 w5 w6 w7 w8"
    existing = spark.createDataFrame(
        [
            (2, "p1 p2 p3 " + run8),
            (4, "s1 s2 s3 aa bb cc dd ee ff"),
            (6, "z1 z2 z3 z4 z5 z6 z7 z8 z9"),
        ],
        "doc_id long, text string",
    )
    arrivals = spark.createDataFrame(
        [
            (101, run8 + " xx yy zz"),
            (102, "n1 n2 n3 n4 n5 n6 n7 n8"),
            (103, "tiny doc"),
        ],
        "doc_id long, text string",
    )
    arrivals.where("doc_id = 101").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f0")
    )
    arrivals.where("doc_id > 101").coalesce(1).write.parquet(
        str(tmp_path / "in" / "f1")
    )
    return existing


def _winnow_gate_run(spark, tmp_path, name, **gate_kw):
    from bulkfhirloader_spark.streaming.joins import stream_winnow_admission

    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(tmp_path / "in" / "*")).schema
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_winnow_admission(stream, **gate_kw)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(r.doc_id for r in spark.table(name).collect())


def test_stream_winnow_admission_deterministic_screen(spark, tmp_path):
    """r14 winnow gate: an arrival sharing a token run >= window + k - 1
    with the corpus is REJECTED (the deterministic guarantee — this is
    not probabilistic); disjoint-vocab and sub-k-token arrivals are
    admitted; both hash tiers admit identically; the boilerplate df cap
    admits an arrival whose only shared fingerprints are capped."""
    existing = _winnow_gate_fixture(spark, tmp_path)
    for tier in ("fold", "xxhash64"):
        got = _winnow_gate_run(
            spark, tmp_path, f"winnow_gate_{tier}",
            existing=existing, hash_tier=tier,
        )
        assert got == [102, 103], tier
    # df cap: with every static fingerprint df-capped at 0-equivalent
    # (cap below any df of the shared fps -> none survive to challenge),
    # even the true near-copy is admitted — the documented trade
    import pytest as _pytest

    with _pytest.raises(ValueError, match="max_fp_df"):
        _winnow_gate_run(
            spark, tmp_path, "winnow_gate_badcap",
            existing=existing, max_fp_df=0,
        )
    with _pytest.raises(ValueError, match="either existing"):
        _winnow_gate_run(spark, tmp_path, "winnow_gate_none")


def test_stream_winnow_admission_from_stored(spark, tmp_path):
    """r14: the winnow gate's stored static tier — plain and bucketed
    stores admit exactly what the derived tier admits; geometry
    (k, window, hash_tier) and store/arg exclusivity validated hard."""
    import pytest as _pytest

    from bulkfhirloader_spark.streaming.joins import (
        winnow_store_read,
        winnow_store_write,
    )

    existing = _winnow_gate_fixture(spark, tmp_path)
    for buckets, name in ((None, "wstore_plain"), (4, "wstore_bucketed")):
        store = str(tmp_path / f"store_{name}")
        winnow_store_write(existing, store, num_buckets=buckets)
        got = _winnow_gate_run(
            spark, tmp_path, f"winnow_gate_{name}", winnow_store=store
        )
        assert got == [102, 103], name
        rows, is_bucketed = winnow_store_read(spark, store)
        assert is_bucketed == (buckets is not None)
        assert rows.count() > 0
    store = str(tmp_path / "store_wstore_plain")
    with _pytest.raises(ValueError, match="geometry mismatch"):
        winnow_store_read(spark, store, k=4)
    with _pytest.raises(ValueError, match="geometry mismatch"):
        _winnow_gate_run(
            spark, tmp_path, "winnow_gate_tiermix",
            winnow_store=store, hash_tier="xxhash64",
        )
    with _pytest.raises(ValueError, match="not both"):
        _winnow_gate_run(
            spark, tmp_path, "winnow_gate_both",
            existing=existing, winnow_store=store,
        )
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        winnow_store_write(existing, store, num_buckets=4)


def test_stream_winnow_admission_fp_df_cap(spark):
    """The winnow gate's ``max_fp_df`` trade, on a batch stream side: an
    arrival whose ONLY shared fingerprints are corpus boilerplate (every
    one in three existing docs) is admitted with the cap at 2 and rejected
    without it; an arrival sharing a rare (df 1) run is rejected either
    way.  Both shared runs are 10 tokens, past the window + k - 1 = 6
    guarantee, so the uncapped rejections are deterministic."""
    from bulkfhirloader_spark.streaming.joins import stream_winnow_admission

    boiler = " ".join(f"bp{i}" for i in range(10))
    rare = " ".join(f"r{i}" for i in range(10))
    existing = spark.createDataFrame(
        [(1, boiler), (2, boiler), (3, boiler), (4, rare)],
        "doc_id long, text string",
    )
    arrivals = spark.createDataFrame(
        [
            (101, boiler + " n1 n2 n3 n4 n5 n6"),  # boilerplate only
            (102, "m1 m2 " + rare),  # the rare run of doc 4
        ],
        "doc_id long, text string",
    )

    def admitted(**cap):
        gate = stream_winnow_admission(arrivals, existing=existing, **cap)
        return sorted(r.doc_id for r in gate.collect())

    assert admitted() == []
    assert admitted(max_fp_df=2) == [101]


def test_stream_image_admission_rejects_perceptual_twins(spark, tmp_path):
    """r13 image gate: a perturbed single-pixel twin arriving in a later
    micro-batch is rejected against the static hash table; a novel image
    is admitted; corrupt payloads are never admitted; the
    guarantee-violating configuration refuses."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import multimodal as mm
    from bulkfhirloader_spark.streaming.joins import stream_image_admission

    static_ids = spark.createDataFrame([(0,), (20,), (40,)], "media_id long")
    static_hashes = mm.image_ahash(mm.synthetic_ppm_media(static_ids))
    # batch 1: perturbed twin of 20 (reject); batch 2: novel 61 (admit,
    # different formula seed) + corrupt payload (never admitted)
    twin = mm.synthetic_ppm_media(
        spark.createDataFrame([(20,)], "media_id long"), perturb_origin=True
    ).withColumn("media_id", F.col("media_id") + F.lit(1000))
    novel = mm.synthetic_ppm_media(
        spark.createDataFrame([(61,)], "media_id long")
    )
    corrupt = spark.createDataFrame(
        [(5000, bytearray(b"nope"), ("application/octet-stream", 4, "x"))],
        mm.MEDIA_SCHEMA,
    )
    twin.coalesce(1).write.parquet(str(tmp_path / "in" / "f0"))
    novel.unionByName(corrupt).coalesce(1).write.parquet(str(tmp_path / "in" / "f1"))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(tmp_path / "in" / "*")).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "in" / "*"))
    )
    q = (
        stream_image_admission(stream, static_hashes, max_hamming=3)
        .writeStream.format("memory")
        .queryName("stream_img_admission_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r.media_id for r in spark.table("stream_img_admission_t").collect())
    assert got == [61]
    with _pytest.raises(ValueError, match="pigeonhole"):
        stream_image_admission(stream, static_hashes, max_hamming=5)
    with _pytest.raises(ValueError, match="either existing_hashes or"):
        stream_image_admission(stream, max_hamming=3)


def test_stream_image_admission_from_stored(spark, tmp_path):
    """r14 (r13 verdict #5): the image gate's STORED static tier — a
    bucketed perceptual-hash store written once, gate restarted against
    it — must admit exactly what the derived tier admits; geometry and
    store/arg exclusivity are validated hard; plain and bucketed layouts
    agree."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import multimodal as mm
    from bulkfhirloader_spark.streaming.joins import (
        image_hash_store_read,
        image_hash_store_write,
        stream_image_admission,
    )

    static_ids = spark.createDataFrame([(0,), (20,), (40,)], "media_id long")
    static_hashes = mm.image_ahash(mm.synthetic_ppm_media(static_ids))
    twin = mm.synthetic_ppm_media(
        spark.createDataFrame([(20,)], "media_id long"), perturb_origin=True
    ).withColumn("media_id", F.col("media_id") + F.lit(1000))
    novel = mm.synthetic_ppm_media(spark.createDataFrame([(61,)], "media_id long"))
    twin.coalesce(1).write.parquet(str(tmp_path / "in" / "f0"))
    novel.coalesce(1).write.parquet(str(tmp_path / "in" / "f1"))

    def run(name, **gate_kw):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(str(tmp_path / "in" / "*")).schema
            )
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in" / "*"))
        )
        q = (
            stream_image_admission(stream, max_hamming=3, **gate_kw)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(r.media_id for r in spark.table(name).collect())

    for buckets, name in ((None, "img_store_plain"), (4, "img_store_bucketed")):
        store = str(tmp_path / f"store_{name}")
        image_hash_store_write(static_hashes, store, num_buckets=buckets)
        assert run(name, hash_store=store) == [61]
        rows, is_bucketed = image_hash_store_read(spark, store)
        assert is_bucketed == (buckets is not None)
        assert rows.count() == 3 * 4  # 4 band rows per stored hash
    # exclusivity + geometry guards
    with _pytest.raises(ValueError, match="not both"):
        stream_image_admission(
            spark.readStream.schema(
                spark.read.parquet(str(tmp_path / "in" / "*")).schema
            ).parquet(str(tmp_path / "in" / "*")),
            existing_hashes=static_hashes,
            hash_store=str(tmp_path / "store_img_store_plain"),
        )
    with _pytest.raises(ValueError, match="bucket-layout mismatch"):
        image_hash_store_write(
            static_hashes, str(tmp_path / "store_img_store_plain"), num_buckets=4
        )
    with _pytest.raises(ValueError, match="geometry mismatch"):
        image_hash_store_read(
            spark, str(tmp_path / "store_img_store_plain"), bands=8
        )


def test_stream_image_admission_bucket_cap(spark, tmp_path):
    """The image gate's ``max_bucket_size`` trade, on a batch stream side,
    derived and plain-stored tiers alike: arrival A's near-twin shares
    A's three other bands only through buckets padded past the cap, so
    with the cap A has no challenger and is ADMITTED (without it, A is
    rejected); arrival B's near-twin shares under-cap bands, so B is
    rejected either way."""
    from bulkfhirloader_spark.operators import multimodal as mm
    from bulkfhirloader_spark.streaming.joins import (
        image_hash_store_write,
        stream_image_admission,
    )

    arrivals = mm.synthetic_ppm_media(
        spark.createDataFrame([(20,), (61,)], "media_id long")
    )
    h = {
        r.media_id: (r.hash_hi, r.hash_lo)
        for r in mm.image_ahash(arrivals).collect()
    }
    (a_hi, a_lo), (b_hi, b_lo) = h[20], h[61]
    full = 0xFFFFFFFF
    rows = [
        # near-twins: one bit flipped in band 0 (the low 16 bits of lo)
        (1, a_hi, a_lo ^ 1),
        (2, b_hi, b_lo ^ 1),
    ]
    # pad A's bands 1-3 (lo high half, hi low half, hi high half) with two
    # hashes each that keep that band and invert the other 48 bits
    for i, (keep_hi, keep_lo) in enumerate(
        [(0, 0xFFFF0000), (0xFFFF, 0), (0xFFFF0000, 0)]
    ):
        pad = ((a_hi & keep_hi) | (~a_hi & full & ~keep_hi),
               (a_lo & keep_lo) | (~a_lo & full & ~keep_lo))
        rows += [(10 + 2 * i, *pad), (11 + 2 * i, *pad)]
    static = spark.createDataFrame(rows, "media_id long, hash_hi long, hash_lo long")

    def bands(hi, lo):
        return {lo & 0xFFFF, lo >> 16 | 1 << 16, hi & 0xFFFF | 2 << 16,
                hi >> 16 | 3 << 16}

    # no other static row sits in any of B's buckets
    others = set().union(*(bands(hi, lo) for i, hi, lo in rows if i != 2))
    assert not bands(b_hi, b_lo) & others
    store = str(tmp_path / "img_cap_store")
    image_hash_store_write(static, store)

    def admitted(**kw):
        gate = stream_image_admission(arrivals, max_hamming=3, **kw)
        return sorted(r.media_id for r in gate.collect())

    assert admitted(existing_hashes=static) == []
    for tier in ({"existing_hashes": static}, {"hash_store": store}):
        assert admitted(max_bucket_size=2, **tier) == [20], tier


def test_stream_admission_pipeline_matches_standalone_gates(spark, tmp_path):
    """r15 (r14 verdict #3): the composed pipeline's per-stage labels
    must equal the standalone gates' verdicts read sequentially —
    'exact' = rejected by the near-dup gate; 'winnow' = passed exact,
    rejected by the winnow gate; 'semantic' = passed both, rejected by
    the semantic gate; 'admitted' = the intersection of all three
    admissions."""
    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.streaming.joins import (
        stream_admission_pipeline,
        stream_near_dup_admission,
        stream_semantic_admission,
        stream_winnow_admission,
    )

    run_a = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(40))
    static_rows = [
        (2, f"{run_a} common tail", [1.0, 0.0, 0.0]),
        (4, f"{filler} {run_a}", [0.0, 1.0, 0.0]),
        (6, "totally different static text here", [0.6, 0.8, 0.0]),
        (8, "yet another unrelated corpus member", [0.0, 0.0, 1.0]),
    ]
    stream_rows = [
        # near-exact text twin of 2 → exact reject
        (101, f"{run_a} common tail", [0.0, 0.3, 1.0]),
        # shares the 8-token run with 4 but low overall Jaccard → winnow
        (103, f"{run_a} " + " ".join(f"z{i}" for i in range(60)),
         [0.3, 0.0, 1.0]),
        # disjoint text, embedding parallel to 6's → semantic reject
        (105, "completely novel words only qqq rrr sss", [0.6, 0.8, 0.0]),
        # novel on all three axes → admitted
        (107, "pristine fresh unseen vocabulary entirely",
         [-1.0, 0.4, 0.1]),
    ]
    schema = "doc_id long, text string, embedding array<double>"
    static = spark.createDataFrame(static_rows, schema)
    stream_batch = spark.createDataFrame(stream_rows, schema)
    stream_batch.repartition(2).write.parquet(str(tmp_path / "in"))
    cents = sim.kmeans_centroids(
        static.unionByName(stream_batch).select("doc_id", "embedding")
        .withColumnRenamed("doc_id", "vec_id"),
        k=3, n_iter=2,
    )
    fschema = spark.read.parquet(str(tmp_path / "in")).schema

    def make_stream():
        return (
            spark.readStream.schema(fschema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in"))
        )

    def drain(df, name, cols):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {tuple(r[c] for c in cols) for r in spark.table(name).collect()}

    labels = dict(
        drain(
            stream_admission_pipeline(
                make_stream(),
                static.select("doc_id", "text"),
                static.select("doc_id", "embedding"),
                cents,
            ),
            "pipe_full",
            ("doc_id", "stage"),
        )
    )
    adm_exact = {
        t[0]
        for t in drain(
            stream_near_dup_admission(
                make_stream().select("doc_id", "text"),
                static.select("doc_id", "text"),
            ),
            "pipe_gate_exact",
            ("doc_id",),
        )
    }
    adm_winnow = {
        t[0]
        for t in drain(
            stream_winnow_admission(
                make_stream().select("doc_id", "text"),
                static.select("doc_id", "text"),
            ),
            "pipe_gate_winnow",
            ("doc_id",),
        )
    }
    adm_sem = {
        t[0]
        for t in drain(
            stream_semantic_admission(
                make_stream().select(
                    F.col("doc_id").alias("vec_id"), "embedding"
                ),
                static.select(F.col("doc_id").alias("vec_id"), "embedding"),
                cents,
            ),
            "pipe_gate_sem",
            ("vec_id",),
        )
    }
    stream_ids = {r[0] for r in stream_rows}
    expected = {}
    for i in sorted(stream_ids):
        if i not in adm_exact:
            expected[i] = "exact"
        elif i not in adm_winnow:
            expected[i] = "winnow"
        elif i not in adm_sem:
            expected[i] = "semantic"
        else:
            expected[i] = "admitted"
    assert labels == expected
    # the fixture must exercise every stage, or the pin proves nothing
    assert set(expected.values()) == {"exact", "winnow", "semantic", "admitted"}


def test_stream_admission_pipeline_stored_matches_derived(spark, tmp_path):
    """r15: the composed pipeline over the three gates' bucketed stores
    must label identically to the derived tier on the same corpus; the
    semantic store carries its own fit, so passing centroids alongside
    it refuses; stages mix freely (stored text screens + derived
    semantic)."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_write,
        semantic_store_write,
        stream_admission_pipeline,
        winnow_store_write,
    )

    run_a = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i}" for i in range(40))
    schema = "doc_id long, text string, embedding array<double>"
    static = spark.createDataFrame(
        [
            (2, f"{run_a} common tail", [1.0, 0.0, 0.0]),
            (4, f"{filler} {run_a}", [0.0, 1.0, 0.0]),
            (6, "totally different static text here", [0.6, 0.8, 0.0]),
        ],
        schema,
    )
    stream_batch = spark.createDataFrame(
        [
            (101, f"{run_a} common tail", [0.0, 0.3, 1.0]),
            (103, f"{run_a} " + " ".join(f"z{i}" for i in range(60)),
             [0.3, 0.0, 1.0]),
            (105, "completely novel words only qqq rrr sss", [0.6, 0.8, 0.0]),
            (107, "pristine fresh unseen vocabulary entirely", [-1.0, 0.4, 0.1]),
        ],
        schema,
    )
    stream_batch.repartition(2).write.parquet(str(tmp_path / "in"))
    cents = sim.kmeans_centroids(
        static.unionByName(stream_batch)
        .select(F.col("doc_id").alias("vec_id"), "embedding"),
        k=3, n_iter=2,
    )
    banded_signature_store_write(
        static.select("doc_id", "text"), str(tmp_path / "bands"), num_buckets=4
    )
    winnow_store_write(
        static.select("doc_id", "text"), str(tmp_path / "fps"), num_buckets=4
    )
    semantic_store_write(
        static.select(F.col("doc_id").alias("vec_id"), "embedding"),
        str(tmp_path / "sem"),
        cents,
        num_buckets=4,
    )
    fschema = spark.read.parquet(str(tmp_path / "in")).schema

    def make_stream():
        return (
            spark.readStream.schema(fschema)
            .option("maxFilesPerTrigger", "1")
            .parquet(str(tmp_path / "in"))
        )

    def drain(df, name):
        q = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            (r["doc_id"], r["stage"]) for r in spark.table(name).collect()
        }

    derived = drain(
        stream_admission_pipeline(
            make_stream(),
            static.select("doc_id", "text"),
            static.select("doc_id", "embedding"),
            cents,
        ),
        "pipe_derived2",
    )
    stored = drain(
        stream_admission_pipeline(
            make_stream(),
            banded_store=str(tmp_path / "bands"),
            winnow_store=str(tmp_path / "fps"),
            semantic_store=str(tmp_path / "sem"),
        ),
        "pipe_stored",
    )
    mixed = drain(
        stream_admission_pipeline(
            make_stream(),
            existing_emb=static.select("doc_id", "embedding"),
            centroids=cents,
            banded_store=str(tmp_path / "bands"),
            winnow_store=str(tmp_path / "fps"),
        ),
        "pipe_mixed",
    )
    assert derived == stored == mixed and len(derived) == 4
    with _pytest.raises(ValueError, match="not both"):
        stream_admission_pipeline(
            make_stream(),
            centroids=cents,
            banded_store=str(tmp_path / "bands"),
            winnow_store=str(tmp_path / "fps"),
            semantic_store=str(tmp_path / "sem"),
        )
    with _pytest.raises(ValueError, match="exact stage"):
        stream_admission_pipeline(
            make_stream(),
            existing_emb=static.select("doc_id", "embedding"),
            centroids=cents,
        )
