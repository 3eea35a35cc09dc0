"""The session-reuse module (bulkfhirloader_spark.reuse): the memo
instances' purge, bound and race rules, checked on stand-in sessions (no
Spark work), plus the real-session properties a stand-in cannot show."""

from __future__ import annotations

import gc
import weakref
from collections import OrderedDict

import pytest

from conftest import SF_DIR
from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.operators import dedup, similarity
from bulkfhirloader_spark.queries import registry
from bulkfhirloader_spark.sources import tables
from bulkfhirloader_spark.sources.tables import load_table


class _Context:
    def __init__(self) -> None:
        self._jsc = object()  # a stopped SparkContext sets _jsc to None


class _Session:
    """Stand-in SparkSession: a context to stop and a reader whose
    handles hold their session, as a real DataFrame's ``_session`` does."""

    def __init__(self, log: list | None = None, context=None) -> None:
        self.sparkContext = context or _Context()
        self.read = self
        self.log = log

    def parquet(self, path: str) -> "_Handle":
        return _Handle(self, self.log)


class _Handle:
    """Stand-in DataFrame: records its release in ``log``."""

    def __init__(self, session: _Session, log: list | None) -> None:
        self._session = session
        self.log = log

    def unpersist(self) -> None:
        self.log.append(self)


MEMOS = {
    "admit": lambda: dedup._ADMIT_MEMO,
    "centroids": lambda: similarity._CENTROID_MEMO,
    "fixture_dirs": lambda: registry._FIXTURE_DIRS,
    "signatures": lambda: dedup._SIG_MEMO,
    "tables": lambda: tables._TABLES,
}


@pytest.mark.parametrize("name", sorted(MEMOS))
def test_memo_purges_stopped_sessions_bounds_and_races(name, monkeypatch):
    memo = MEMOS[name]()
    monkeypatch.setattr(memo, "_entries", OrderedDict())  # this test's own
    releases = memo._release is not None
    log: list = []
    dead, live = _Session(log), _Session(log)
    memo.put(dead, "k", _Handle(dead, log))
    dead.sparkContext._jsc = None
    ref = weakref.ref(dead)
    del dead

    # the next insert purges the stopped session's entry, unreleased, and
    # with it the last reference to the session
    first = _Handle(live, log)
    assert memo.put(live, 0, first) is first
    gc.collect()
    assert ref() is None and log == [] and len(memo) == 1

    # filling past the bound evicts the least recently used entry
    for i in range(1, memo.maxsize + 1):
        memo.put(live, i, _Handle(live, log))
    assert len(memo) == memo.maxsize and memo.get(live, 0) is None
    assert log == ([first] if releases else [])

    # a build that lost the race is released; the winner's value is served
    winner = memo.get(live, 1)
    loser = _Handle(live, log)
    assert memo.put(live, 1, loser) is winner
    assert (loser in log) == releases
    assert memo.get_or_build(live, 1, lambda: pytest.fail("rebuilt")) is winner


def test_memo_hits_from_a_second_session_wrapper(spark, monkeypatch):
    """foreachBatch wraps each micro-batch in a fresh Python SparkSession
    over the same context: the context-keyed memos (the stored-IVF
    centroids among them) must hit from it, and load_table's handles,
    which belong to one session, must not be served to another."""
    from pyspark.sql import SparkSession

    wrapper = SparkSession(spark.sparkContext, spark._jsparkSession)
    assert wrapper is not spark
    for name in sorted(set(MEMOS) - {"tables"}):
        memo = MEMOS[name]()
        monkeypatch.setattr(memo, "_entries", OrderedDict())  # this test's own
        value = memo.get_or_build(spark, "k", object)
        assert memo.get_or_build(wrapper, "k", pytest.fail) is value, name

    ctx = _Context()
    first, second = _Session(context=ctx), _Session(context=ctx)
    assert load_table(first, "/stand-in", "documents") is not load_table(
        second, "/stand-in", "documents"
    )
    ctx._jsc = None  # purged by the suite's next insert


def test_memo_concurrent_builds_serve_their_own_key():
    """16 threads over 6 keys and a bound of 4 on one memo: every call gets
    the value of its own key, and the bound holds after the churn."""
    import sys
    import threading

    memo = reuse.Memo(4, release=None)
    session = _Session()
    errors: list = []

    def worker(tid: int) -> None:
        try:
            for i in range(300):
                k = (tid + i) % 6
                got = memo.get_or_build(session, k, lambda: ("v", k))
                assert got == ("v", k), (k, got)
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(memo) <= memo.maxsize


def test_load_table_drops_a_stopped_sessions_entries():
    """A cached table handle holds its session, so a cache that keeps the
    handle keeps the stopped session too; the next insert must drop both."""
    stopped, live = _Session(), _Session()
    load_table(stopped, "/stand-in", "documents")
    stopped.sparkContext._jsc = None
    ref = weakref.ref(stopped)
    del stopped
    load_table(live, "/stand-in", "documents")
    live.sparkContext._jsc = None  # purged by the suite's next insert
    gc.collect()
    assert ref() is None


def test_memo_hits_make_no_py4j_round_trip(spark, monkeypatch):
    from py4j.clientserver import ClientServerConnection

    memo = reuse.Memo(2)
    docs = load_table(spark, SF_DIR, "documents")
    value = memo.get_or_build(spark, "k", lambda: docs.select("doc_id"))
    send = ClientServerConnection.send_command
    calls = []

    def counting(self, command):
        calls.append(command)
        return send(self, command)

    gc.collect()
    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    again = load_table(spark, SF_DIR, "documents")
    hit = memo.get_or_build(spark, "k", lambda: pytest.fail("rebuilt"))
    monkeypatch.undo()
    assert calls == [] and again is docs and hit is value


def test_released_local_checkpoint_cannot_be_recomputed(spark):
    """The hazard behind the ledger: release frees a local checkpoint's
    blocks, and its lineage is cut, so the DataFrame is dead after."""
    cut = spark.range(5).localCheckpoint(eager=True)
    assert cut.count() == 5
    reuse.release(cut)
    with pytest.raises(Exception):
        cut.collect()
