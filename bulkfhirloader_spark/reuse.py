"""Session reuse: what the operator families keep between the calls of one
long-lived session, and how they let it go.

- ``release(df)``: the one release path for anything the engine
  materialized — cache-manager blocks (``persist``) and the internal RDD
  blocks behind a local checkpoint.
- ``Memo``: a bounded LRU of values built once per (context, key) — the
  persisted dedup results, the stored IVF quantizer, ``load_table``'s
  DataFrame handles, the registry's fixture dirs.
- the candidate-checkpoint ledger: materializations cut INSIDE a returned
  plan, which no memo may evict because the caller may still hold the
  plan; ``release_candidate_checkpoints`` is its drain point.
- ``evict`` / ``keep``: the one-live-entry ledgers (a gate kind's static
  side, curation's pinned projections), where a new call releases the
  previous call's entry.

Every memo, ledger and drain takes the one ``LOCK``: callers may run on
several driver threads, and an OrderedDict mutated mid-iteration raises.
The lock covers Python state only, never a Py4J call or a Spark job —
builds, ``sameSemantics`` confirmations and releases run outside it, and
a lost race only wastes a build.

Not here: ``functions.binding.per_jvm``.  Its entries live as long as the
JVM, not the session, and hold nothing to release.
"""

from __future__ import annotations

import threading
from collections import OrderedDict

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

LOCK = threading.Lock()


def release(df: DataFrame) -> None:
    """Free the executor blocks behind ``df``, best-effort: ``unpersist``
    drops cache-manager blocks (a persisted DataFrame stays recomputable);
    the analyzed plan's RDD unpersist drops a local checkpoint's blocks,
    which ``unpersist`` never touches and which otherwise live until
    ContextCleaner GCs the dropped reference.  Each half is a no-op for
    the other kind, and a stopped context or a plan that is not a
    LogicalRDD is never an error.  A released local checkpoint cannot be
    recomputed: release one only when nothing reachable reads it."""
    try:
        df.unpersist()
    except Exception:  # pragma: no cover - context raced to shutdown
        pass
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


class Memo:
    """Bounded LRU of values built once per (SparkContext, key).

    Keyed by the SparkContext OBJECT plus the caller's key: every Python
    wrapper of a context's sessions shares it (foreachBatch hands each
    micro-batch a fresh SparkSession wrapper over the same context, and
    those must hit), a lookup makes no Py4J round trip, and two contexts'
    entries cannot alias.  A caller whose values belong to one session
    puts the session in its key.  A stopped context's entries are purged,
    never released, before any insert or eviction — their handles are
    dead — so neither an entry nor the session its value pins outlives
    the next insert.  When ``inputs`` (the DataFrames the key hashes) are
    given, a hit is confirmed with ``sameSemantics`` on each (semanticHash
    is 32-bit); a rejected or evicted value goes to ``release`` (None:
    values hold nothing).  ``LOCK`` covers the dict only: the
    sameSemantics confirmations and the releases run outside it."""

    def __init__(self, maxsize: int, release=release) -> None:
        self.maxsize = maxsize
        self._release = release
        self._entries: OrderedDict = OrderedDict()

    def __len__(self) -> int:
        return len(self._entries)

    def clear(self) -> None:
        """Forget every entry without releasing it."""
        with LOCK:
            self._entries.clear()

    def _drop(self, value) -> None:
        if self._release is not None:
            self._release(value)

    def get(self, spark, key, inputs=()):
        """The confirmed value under ``key`` in ``spark``'s context, or
        None."""
        k = (spark.sparkContext, key)
        with LOCK:
            hit = self._entries.get(k)
        if hit is None:
            return None
        stored, value = hit
        try:
            same = len(stored) == len(inputs) and all(
                a.sameSemantics(b) for a, b in zip(inputs, stored)
            )
        except Exception:  # pragma: no cover - stopped-context comparison
            same = False
        with LOCK:
            current = self._entries.get(k) is hit
            if current and same:
                self._entries.move_to_end(k)
                return value
            if current:
                del self._entries[k]  # collision or dead handle
        if current:
            self._drop(value)
        return None  # rejected, or evicted since the lookup

    def put(self, spark, key, value, inputs=()):
        """Store ``value`` and return it — or, when a concurrent caller
        stored a confirmed entry first, release ``value`` and return the
        winner's."""
        k = (spark.sparkContext, key)
        while True:
            won = self.get(spark, key, inputs)
            if won is not None:
                self._drop(value)
                return won
            with LOCK:
                if k in self._entries:
                    continue  # stored since the miss: confirm it first
                for dead in [d for d in self._entries if d[0]._jsc is None]:
                    del self._entries[dead]
                self._entries[k] = (list(inputs), value)
                evicted = [
                    self._entries.popitem(last=False)[1][1]
                    for _ in range(len(self._entries) - self.maxsize)
                ]
                break
        for old in evicted:
            self._drop(old)
        return value

    def get_or_build(self, spark, key, build, inputs=()):
        """The value under ``key``, built by ``build()`` (outside the lock)
        on a miss."""
        hit = self.get(spark, key, inputs)
        return hit if hit is not None else self.put(spark, key, build(), inputs)


def _release_all(dfs: list) -> int:
    for df in dfs:
        release(df)
    return len(dfs)


def _take_all(ledger: list) -> list:
    """Empty ``ledger`` under the lock and return its entries, newest
    first, for release outside the lock."""
    with LOCK:
        taken = ledger[::-1]
        ledger.clear()
    return taken


def evict(ledger: list) -> None:
    """Release every entry of a one-live-entry ledger."""
    _release_all(_take_all(ledger))


def keep(ledger: list, df: DataFrame) -> DataFrame:
    """Record ``df`` in a one-live-entry ledger and return it."""
    with LOCK:
        ledger.append(df)
    return df


# The candidate-checkpoint ledger (eager=False sites: ngram_jaccard_pairs,
# ngram_containment_pairs, text.winnow_verified; and the shared self-join
# persists).  These materializations cut a multiply-referenced subplan
# INSIDE a returned plan, so unlike a memo's values they cannot be evicted
# on the next call: the caller may still hold the previous result.  The
# ledger makes the retention explicit and gives long-lived sessions a
# drain point.  Scoped releases use a per-THREAD capture frame, so a
# caller releases exactly the entries its own nested calls created —
# never another thread's.
_live_candidate_checkpoints: list = []
_ledger_capture = threading.local()


def ledger_append(df: DataFrame) -> None:
    """Record an already-created materialization in the ledger (and in
    this thread's open capture frames, if any)."""
    with LOCK:
        _live_candidate_checkpoints.append(df)
        for frame in getattr(_ledger_capture, "frames", ()):
            frame.append(df)


def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Lazily checkpoint an internal candidate set and ledger it.

    Reserved for the genuine lineage-CUT cases (candidate proposal
    subplans referenced three times, whose re-expansion blows the printed
    plan to ~90 Exchanges and planning time with it — guide §3.3).  For
    plain compute-once/read-twice sharing use shared_persist: a
    localCheckpoint's blocks are UNRECOVERABLE after an executor loss
    (the lineage is truncated), which on a real cluster fails the query
    — acceptable only where the checkpoint buys something persist
    cannot."""
    out = df.localCheckpoint(eager=False)
    ledger_append(out)
    return out


def shared_persist(df: DataFrame) -> DataFrame:
    """Materialize-once cut for SHARED SELF-JOIN inputs: the capped band
    table, the simhash signature projection and the verify tier's
    shingle-attach table each feed BOTH self-join sides, and when Catalyst
    broadcasts one side that side's build is a separate subtree
    ReuseExchange cannot dedupe — so without a cut the producing chain
    executes once per side.  persist(MEMORY_AND_DISK) gives the same
    compute-once plan (every reference reads one InMemoryRelation)
    WITHOUT truncating lineage: a lost persisted block is recomputed from
    the parquet lineage, plan captures show the real materialization
    subtree, and draining merely unpersists — a still-held result
    recomputes instead of failing, so the drain is safe at any time for
    these entries.  Ledgered for the same explicit drain point."""
    out = df.persist(StorageLevel.MEMORY_AND_DISK)
    ledger_append(out)
    return out


class capture_frame:
    """Context manager: capture the ledger entries THIS thread's nested
    operator calls create, so the caller can release exactly those (its
    own candidate sets) without touching entries ledgered concurrently
    by other threads."""

    def __enter__(self) -> list:
        frames = getattr(_ledger_capture, "frames", None)
        if frames is None:
            frames = _ledger_capture.frames = []
        self._frame: list = []
        frames.append(self._frame)
        return self._frame

    def __exit__(self, *exc) -> None:
        _ledger_capture.frames.remove(self._frame)


def release_captured(frame: list) -> None:
    """Release the entries in a capture frame and drop them from the
    ledger (identity match); entries already drained are skipped."""
    owned = []
    with LOCK:
        for df in frame:
            for i, live in enumerate(_live_candidate_checkpoints):
                if live is df:
                    owned.append(_live_candidate_checkpoints.pop(i))
                    break
    frame.clear()
    _release_all(owned)


def release_candidate_checkpoints() -> int:
    """Free every ledgered internal materialization: without this,
    repeated dedup/text/multimodal near-dup calls in a long-lived session
    accumulate executor blocks until ContextCleaner happens to GC them.
    The operators that ledger (the complete list):

    - ``ngram_jaccard_pairs`` / ``ngram_containment_pairs`` /
      ``text.winnow_verified``: the candidate proposal set, as a lazy
      localCheckpoint (lineage cut) — releasing makes a still-held
      result UNRECOMPUTABLE (re-collecting it afterwards fails; run the
      operator again instead).
    - ``text.apply_bpe_merges`` (fold tier, past ``checkpoint_every``
      merges): the last cut of the merge stack, as an eager
      localCheckpoint — same caveat.
    - ``ngram_jaccard_pairs`` (broadcast_candidates regime): the
      (id, shingles) attach table; ``minhash_near_dup_pairs`` /
      ``incremental_near_dup_filter`` / ``mm image/video near-dup``
      (capped regimes): the shared capped band table;
      ``simhash_near_dup_pairs``: the signature projection — all as
      persist(MEMORY_AND_DISK), so releasing merely drops the cache and
      still-held results RECOMPUTE on next use.

    Call when the session is done with the returned DataFrames (or, for
    the persisted entries, whenever memory pressure warrants — they
    survive the drain logically).  Returns the number of entries
    released."""
    return _release_all(_take_all(_live_candidate_checkpoints))
