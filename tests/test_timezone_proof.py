"""Adversarial-timezone tests for the two r5 driver-red queries.

CORRECTNESS_r05 flagged ``src_partitioned_events`` and
``src_compacted_events`` with hash-only mismatches that never reproduced
locally — the one tz-sensitive ingredient was the day key
(``to_date(ts)`` / DATE partition-dir inference).  Both now derive the day
as INTEGER epoch-day arithmetic on ``unix_micros`` (sources/partitioned
.epoch_day), so the result must be bit-identical even when the session
timezone is hostile AND the internal ``_utc`` pin is defeated.  These
tests defeat it on purpose and compare against the UTC ground truth.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.queries import registry
from bulkfhirloader_spark.sources import partitioned
from bulkfhirloader_spark.sources.tables import load_table

from conftest import SF_DIR

# UTC+14 / UTC-10: every UTC-day boundary moves under these zones, so any
# to_date()/session-tz leak in the day key shifts boundary events.
HOSTILE_TZS = ["Pacific/Kiritimati", "Pacific/Honolulu"]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_epoch_day_matches_utc_calendar(spark):
    """epoch_day == the UTC wall-clock date of the stored epoch, checked in
    pure Python against pyarrow's reading of the raw file."""
    import pyarrow.parquet as pq

    tbl = pq.read_table(f"{SF_DIR}/events.parquet", columns=["ts"])
    raw = tbl.column("ts").to_pylist()[:500]
    expected = [
        (t.replace(tzinfo=None) - datetime.datetime(1970, 1, 1)).days
        if isinstance(t, datetime.datetime)
        else None
        for t in raw
    ]
    ev = load_table(spark, SF_DIR, "events").limit(500)
    got = [r[0] for r in ev.select(partitioned.epoch_day("ts")).collect()]
    assert got == expected


@pytest.mark.parametrize("tz", HOSTILE_TZS)
def test_partitioned_events_hash_is_tz_free(spark, tz, monkeypatch):
    base = _rows(registry.src_partitioned_events(spark, SF_DIR))
    monkeypatch.setattr(registry, "_utc", lambda s: None)  # defeat the pin
    # fresh store so the write itself happens under the hostile tz
    monkeypatch.setattr(registry, "_FIXTURE_DIRS", reuse.Memo(256, release=None))
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        hostile = _rows(registry.src_partitioned_events(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert hostile == base


@pytest.mark.parametrize("tz", HOSTILE_TZS)
def test_compacted_events_hash_is_tz_free(spark, tz, monkeypatch):
    base = _rows(registry.src_compacted_events(spark, SF_DIR))
    monkeypatch.setattr(registry, "_utc", lambda s: None)
    monkeypatch.setattr(registry, "_FIXTURE_DIRS", reuse.Memo(256, release=None))
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", tz)
        hostile = _rows(registry.src_compacted_events(spark, SF_DIR))
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert hostile == base


def test_read_events_day_prunes_with_epoch_day_derivation(spark, tmp_path):
    """The tz-free derivation must not break planning-time pruning: the
    one-day read still carries event_date in PartitionFilters."""
    events = load_table(spark, SF_DIR, "events")
    path = str(tmp_path / "ev")
    partitioned.write_events_partitioned(events, path)
    day = partitioned.read_events_day(spark, path, "2024-01-03")
    plan = day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # pruned read == epoch-day filter over the original
    day_no = (datetime.date(2024, 1, 3) - datetime.date(1970, 1, 1)).days
    want = events.where(partitioned.epoch_day("ts") == day_no).count()
    assert day.count() == want
