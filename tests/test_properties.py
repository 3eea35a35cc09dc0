"""Property-based tests (hypothesis): the sequence operators against
straight-line Python simulations on randomized event streams.  The registry
oracles pin these operators against DuckDB on the fixed corpus; these
properties pin them against an independent reimplementation on adversarial
shapes hypothesis likes to find (ties, empty users, single-event users,
all-same-type streams).

Example counts are kept small: each example pays a Spark job (~0.5 s), so
the suite budget is ~15 examples per property, plus @example pins for the
regressions we care most about.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from bulkfhirloader_spark.operators import sequences

STEPS = ["signup", "click", "purchase"]
TYPES = STEPS + ["view"]

# (user_id, minute, type_idx, event_id is positional)
EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),
        st.integers(min_value=0, max_value=8),
        st.integers(min_value=0, max_value=3),
    ),
    min_size=1,
    max_size=12,
)

_SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, raw):
    rows = [
        (i + 1, dt.datetime(2024, 1, 1, 0, m), u, TYPES[t])
        for i, (u, m, t) in enumerate(raw)
    ]
    return spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )


def _funnel_sim(raw):
    """Reference simulation: per user, scan events in (ts, event_id) order
    and advance a step cursor on strictly-later matches."""
    per_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, m, t) in enumerate(raw):
        per_user.setdefault(u, []).append((m, i + 1, TYPES[t]))
    reached = [0] * len(STEPS)
    for evs in per_user.values():
        evs.sort()
        done: list[int | None] = [None] * len(STEPS)
        for m, _eid, typ in evs:
            for k, step in enumerate(STEPS):
                if typ != step:
                    continue
                prev_ok = k == 0 or (done[k - 1] is not None and m > done[k - 1])
                if prev_ok and done[k] is None:
                    done[k] = m
        for k in range(len(STEPS)):
            if done[k] is not None:
                reached[k] += 1
    return {s: reached[k] for k, s in enumerate(STEPS)}


@given(EVENTS)
@example([(1, 1, 0), (1, 1, 1), (1, 2, 2)])  # tie at step boundary
@example([(1, 0, 2), (1, 1, 0), (1, 2, 1), (1, 3, 2)])  # pre-signup purchase
@_SETTINGS
def test_funnel_matches_simulation(spark, raw):
    got = {
        r.step_name: r.n_users
        for r in sequences.funnel_counts(_df(spark, raw), STEPS).collect()
    }
    assert got == _funnel_sim(raw)


@given(EVENTS)
@example([(1, 3, 0), (1, 3, 1), (1, 3, 2)])  # all-tied timestamps
@_SETTINGS
def test_latest_per_key_matches_simulation(spark, raw):
    from pyspark.sql import functions as F

    ev = _df(spark, raw).select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "event_id", "event_type"
    )
    got = {
        r.user_id: (r.ts_us, r.event_id, r.event_type)
        for r in sequences.latest_per_key(
            ev, ["user_id"], ["ts_us", "event_id"], ["event_type"]
        ).collect()
    }
    want: dict[int, tuple[int, int, str]] = {}
    for i, (u, m, t) in enumerate(raw):
        us = int(dt.datetime(2024, 1, 1, 0, m).timestamp() * 1_000_000)
        cand = (us, i + 1, TYPES[t])
        if u not in want or cand[:2] > want[u][:2]:
            want[u] = cand
    assert got == want


@given(EVENTS)
@_SETTINGS
def test_transitions_match_simulation(spark, raw):
    got = {
        (r.prev_type, r.next_type): r.n_transitions
        for r in sequences.transition_counts(_df(spark, raw)).collect()
    }
    per_user: dict[int, list[tuple[int, int, str]]] = {}
    for i, (u, m, t) in enumerate(raw):
        per_user.setdefault(u, []).append((m, i + 1, TYPES[t]))
    want: dict[tuple[str, str], int] = {}
    for evs in per_user.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want


# ---------------------------------------------------------------------------
# Misra-Gries candidate update (_mg_update): pure driver-side function, so
# these properties run at full hypothesis budget (no Spark job per example).


@given(
    st.lists(st.integers(min_value=0, max_value=30), max_size=400),
    st.integers(min_value=1, max_value=8),
)
@settings(max_examples=300, deadline=None)
def test_mg_update_guarantee_and_bound(stream, m):
    """(a) capacity never exceeds m; (b) every value with true count
    > N/(m+1) is present in the final counters — the superset guarantee
    count_min_heavy_hitters' bounded probe relies on; (c) counters never
    overestimate the true count."""
    from collections import Counter

    from bulkfhirloader_spark.operators.profile import _mg_update

    counters = _mg_update({}, [str(v) for v in stream], m)
    assert len(counters) <= m
    true = Counter(str(v) for v in stream)
    n = len(stream)
    for v, c in true.items():
        if c * (m + 1) > n:
            assert v in counters, (v, c, n, m, counters)
    for v, c in counters.items():
        assert 0 < c <= true[v]


@given(
    st.lists(st.integers(min_value=0, max_value=30), max_size=200),
    st.integers(min_value=1, max_value=8),
    st.integers(min_value=0, max_value=199),
)
@settings(max_examples=200, deadline=None)
def test_mg_update_batch_split_equivalence(stream, m, cut):
    """Feeding one stream in two chunks through _mg_update equals one
    pass — the property that makes the mapInPandas batch iterator safe."""
    from bulkfhirloader_spark.operators.profile import _mg_update

    s = [str(v) for v in stream]
    cut = min(cut, len(s))
    one = _mg_update({}, s, m)
    two = _mg_update(_mg_update({}, s[:cut], m), s[cut:], m)
    assert one == two


# ---------------------------------------------------------------------------
# Driver-side union-find (_union_find_min_labels): the small-graph tier of
# connected_components and the admission algebra both stand on it.  Pure
# Python, so full hypothesis budget; the Spark-tier equivalence (local vs
# distributed loop on the same DataFrames) is pinned separately in
# tests/test_dedup_similarity.py.


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=40),
            st.integers(min_value=0, max_value=40),
        ),
        max_size=120,
    )
)
@settings(max_examples=300, deadline=None)
def test_union_find_min_labels_matches_reachability_closure(edges):
    """Label = min node reachable through the undirected edge graph —
    checked against a brute-force transitive-closure simulation."""
    from bulkfhirloader_spark.operators.dedup import _union_find_min_labels

    labels = _union_find_min_labels(list(edges))

    # brute force: grow components by fixpoint union
    nodes = {n for e in edges for n in e}
    assert set(labels) == nodes
    comp = {n: {n} for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            merged = comp[a] | comp[b]
            if merged != comp[a] or merged != comp[b]:
                for n in merged:
                    comp[n] = merged
                changed = True
    for n in nodes:
        assert labels[n] == min(comp[n]), (n, labels[n], sorted(comp[n]))


@given(
    st.lists(
        st.tuples(
            st.tuples(st.integers(0, 25), st.integers(0, 25)),
            st.booleans(),
            st.booleans(),
        ),
        max_size=80,
    )
)
@settings(max_examples=300, deadline=None)
def test_admission_rejects_local_restates_distributed_rule(rows):
    """_admission_rejects_local == the distributed flow's set algebra:
    old-dup rejection first, then min-id survivorship over the new-new
    pair clusters among survivors — simulated independently here."""
    from bulkfhirloader_spark.operators.dedup import (
        _admission_rejects_local,
        _union_find_min_labels,
    )

    tagged = [(a, b, na, nb) for (a, b), na, nb in rows]
    got = _admission_rejects_local(tagged)

    old_dup = {a for a, b, na, nb in tagged if na and not nb} | {
        b for a, b, na, nb in tagged if nb and not na
    }
    nn = [
        (a, b)
        for a, b, na, nb in tagged
        if na and nb and a not in old_dup and b not in old_dup
    ]
    labels = _union_find_min_labels(nn)
    dropped = {n for n, c in labels.items() if c != n}
    assert got == old_dup | dropped


# ---------------------------------------------------------------------------
# Stored-signature admission tier (round 10): the parquet-store probe must
# reproduce the self-contained admitted set on ADVERSARIAL corpora, not
# just the fixture — hypothesis hunts duplicate-heavy, tie-heavy shapes
# (tiny vocab => near-dups everywhere, including across the split).
# ---------------------------------------------------------------------------

_VOCAB = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]

_DOCS = st.lists(
    st.lists(
        st.integers(min_value=0, max_value=len(_VOCAB) - 1),
        min_size=3,
        max_size=8,
    ),
    min_size=2,
    max_size=14,
)


@given(_DOCS)
@example([[0, 1, 2, 3], [0, 1, 2, 3], [0, 1, 2, 4], [5, 5, 5]])  # dup + near-dup + loner
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_signature_store_tier_matches_self_contained_on_random_corpora(spark, raw):
    import tempfile

    from bulkfhirloader_spark.operators import dedup

    rows = [
        (i + 1, " ".join(_VOCAB[w] for w in words)) for i, words in enumerate(raw)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    existing = docs.where("doc_id % 2 = 0")
    new_batch = docs.where("doc_id % 2 = 1")
    plain = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    store = tempfile.mkdtemp(prefix="bfls_prop_store_") + "/s"
    dedup.signature_store_write(existing, store)
    stored = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing, new_batch, signature_store=store, validate_store_ids=True
        ).collect()
    )
    assert stored == plain
    # every admitted id is odd (came from the batch) and unique
    assert all(i % 2 == 1 for i in stored) and len(set(stored)) == len(stored)


# ---------------------------------------------------------------------------
# Streaming banded-store gate (round 10): on random corpora, (a) the
# stored-static gate must admit EXACTLY what the derived-static gate
# admits (both band with the same hash functions, so proposal sets are
# identical — parity is deterministic even where LSH misses a true pair),
# and (b) the gate can only err toward ADMITTING (a rejection requires an
# exact-verified Jaccard>=0.5 partner inside the join condition), so the
# simulation's admitted set is always a subset of the gate's.
# ---------------------------------------------------------------------------

_GATE_SEQ = [0]


def _gate_admitted(spark, docs_rows, use_store: bool) -> set:
    import os
    import tempfile

    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_write,
        stream_near_dup_admission,
    )

    src = tempfile.mkdtemp(prefix="bfls_prop_gate_")
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    odd = docs.where("doc_id % 2 = 1")
    even = docs.where("doc_id % 2 = 0")
    odd.repartition(2).write.mode("overwrite").parquet(os.path.join(src, "in"))
    schema = spark.read.parquet(os.path.join(src, "in")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(os.path.join(src, "in"))
    )
    if use_store:
        store = os.path.join(src, "bands")
        banded_signature_store_write(even, store)
        gated = stream_near_dup_admission(stream, banded_store=store)
    else:
        gated = stream_near_dup_admission(stream, even)
    _GATE_SEQ[0] += 1
    qname = f"bfls_prop_gate_{_GATE_SEQ[0]}"
    q = (
        gated.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .option("checkpointLocation", os.path.join(src, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r["doc_id"] for r in spark.table(qname).collect()}


def _shingle_set(words):
    if len(words) >= 3:
        return {" ".join(words[i : i + 3]) for i in range(len(words) - 2)}
    return {" ".join(words)}


@given(_DOCS)
@example([[0, 1, 2, 3], [0, 1, 2, 3], [0, 1, 2, 4], [5, 5, 5]])
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_banded_store_gate_matches_derived_gate_on_random_corpora(spark, raw):
    rows = [
        (i + 1, " ".join(_VOCAB[w] for w in words)) for i, words in enumerate(raw)
    ]
    derived = _gate_admitted(spark, rows, use_store=False)
    stored = _gate_admitted(spark, rows, use_store=True)
    assert stored == derived
    # simulation: odd docs with NO even partner at exact Jaccard >= 0.5
    sh = {i: _shingle_set(t.split()) for i, t in rows}
    sim_admitted = set()
    for i, _ in rows:
        if i % 2 == 0:
            continue
        rejected = False
        for j, _ in rows:
            if j % 2 == 1 or j == i:
                continue
            inter = len(sh[i] & sh[j])
            union = len(sh[i] | sh[j])
            if union and inter / union >= 0.5:
                rejected = True
                break
        if not rejected:
            sim_admitted.add(i)
    # LSH banding can only MISS a true pair (=> admit extra); it can never
    # reject a doc the exact rule admits
    assert sim_admitted <= stored


# ---------------------------------------------------------------------------
# Size-gated driver tiers vs their distributed twins (round 11, verdict
# Next round #1): the local tiers (_connected_components_local,
# _admission_rejects_local via the small-set admission branch) are the one
# correctness-bearing physical-plan choice in the engine — these force the
# gate BOTH ways on seeded random corpora and assert bit-identical
# outputs, including NULL-id and empty-edge shapes.  Seeded random.Random
# loops rather than hypothesis: each corpus pays 2 full Spark runs, and
# the failure message carries the corpus index + payload for replay.
# ---------------------------------------------------------------------------


def _random_edge_graphs(seed: int, n_corpora: int):
    """Seeded random undirected pair lists over a small id space (dense =>
    multi-node components, chains, cliques), plus pinned edge shapes."""
    import random

    rng = random.Random(seed)
    corpora = [
        [],  # empty edge set
        [(1, 1)],  # pure self-loop
        [(None, 3), (3, 4)],  # NULL endpoint next to a live component
        [(None, None)],  # both endpoints NULL
        [(i, i + 1) for i in range(1, 12)],  # long chain (pointer jumping)
    ]
    while len(corpora) < n_corpora:
        n_edges = rng.randint(1, 30)
        ids = list(range(1, rng.randint(4, 20)))
        edges = []
        for _ in range(n_edges):
            a = rng.choice(ids)
            b = rng.choice(ids)
            if rng.random() < 0.05:
                a = None
            edges.append((a, b))
        corpora.append(edges)
    return corpora


def test_connected_components_local_tier_matches_distributed(spark):
    """Force the small-graph gate both ways (local_threshold=-1 => always
    the distributed min-propagation loop; 10**9 => always driver-side
    union-find) over >=20 seeded random graphs; the (node, component)
    relations must be identical — same rows, same NULL handling."""
    from bulkfhirloader_spark.operators import dedup

    for idx, edges in enumerate(_random_edge_graphs(0xBF11, 22)):
        pairs = spark.createDataFrame(
            edges or [(None, None)], "id_a long, id_b long"
        )
        if not edges:
            # genuinely empty DataFrame (createDataFrame needs a row to
            # infer nothing — schema string carries the types)
            pairs = pairs.limit(0)
        dist = {
            (r["node"], r["component"])
            for r in dedup.connected_components(
                pairs, local_threshold=-1
            ).collect()
        }
        local = {
            (r["node"], r["component"])
            for r in dedup.connected_components(
                pairs, local_threshold=10**9
            ).collect()
        }
        assert dist == local, (idx, edges, sorted(dist, key=str), sorted(local, key=str))


def _random_doc_corpora(seed: int, n_corpora: int):
    """Seeded random tiny-vocab corpora (near-dups everywhere), plus
    pinned NULL-id / empty-split shapes.  Rows are (doc_id, text)."""
    import random

    vocab = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta"]
    rng = random.Random(seed)
    corpora = [
        [(1, "alpha beta gamma delta")],  # batch only, no existing side
        [(2, "alpha beta gamma delta")],  # existing only, empty batch
        [
            (None, "alpha beta gamma delta"),  # NULL id in the batch split
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
        ],
    ]
    while len(corpora) < n_corpora:
        n_docs = rng.randint(2, 14)
        rows = []
        for i in range(n_docs):
            words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(3, 8))]
            doc_id = None if rng.random() < 0.08 else i + 1
            rows.append((doc_id, " ".join(words)))
        corpora.append(rows)
    return corpora


def test_admission_local_tier_matches_distributed_on_random_corpora(spark):
    """Force the small-set admission gate both ways (local_threshold=-1 =>
    the distributed old-dup/cluster/survivor flow; 10**9 => collected set
    algebra) over >=20 seeded random corpora; admitted id sets must match.
    The admitted-set memo is keyed WITHOUT local_threshold (the output is
    defined tier-independent), so it is cleared between the two runs —
    otherwise the second run would replay the first's decision and the
    test would compare a result to itself."""
    from bulkfhirloader_spark.operators import dedup

    def run(docs, lt):
        dedup._ADMIT_MEMO.clear()
        existing = docs.where("doc_id % 2 = 0")
        new_batch = docs.where("doc_id % 2 = 1 or doc_id is null")
        return sorted(
            r["doc_id"]
            for r in dedup.incremental_near_dup_filter(
                existing, new_batch, local_threshold=lt
            ).collect()
        )

    for idx, rows in enumerate(_random_doc_corpora(0xBF12, 21)):
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        dist = run(docs, -1)
        local = run(docs, 10**9)
        assert dist == local, (idx, rows, dist, local)
        assert all(i is not None and i % 2 == 1 for i in dist), (idx, rows, dist)


def test_banded_hamming_join_matches_bruteforce_on_random_hashes(spark):
    """r14: the 4 x 16-bit pigeonhole banding must lose NOTHING against
    the quadratic scan for max_hamming <= bands - 1 — checked on seeded
    random 64-bit hashes with planted few-bit-flip clusters (the near-dup
    regime) and exact-duplicate runs (the hot-band regime)."""
    import random

    from bulkfhirloader_spark.operators import multimodal as mm

    rng = random.Random(0xD15C)
    rows = []
    mid = 0
    for _ in range(40):
        base = rng.getrandbits(64)
        for _ in range(rng.randint(1, 5)):
            h = base
            for _ in range(rng.randint(0, 4)):  # 0-4 bit flips
                h ^= 1 << rng.randrange(64)
            rows.append((mid, h >> 32, h & 0xFFFFFFFF))
            mid += 1
    brute = {}
    for i, (ia, ha, la) in enumerate(rows):
        for ib, hb, lb in rows[i + 1:]:
            d = bin((ha << 32 | la) ^ (hb << 32 | lb)).count("1")
            if d <= 3:
                brute[(ia, ib)] = d
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in mm.banded_hamming_pairs(
            spark.createDataFrame(rows, "media_id long, hash_hi long, hash_lo long"),
            max_hamming=3,
        ).collect()
    }
    assert got == brute and len(brute) > 0


def test_winnow_guarantee_and_exact_verify_on_random_corpora(spark):
    """r14: on seeded random tiny-vocab corpora, (a) ANY pair sharing a
    token run >= window + k - 1 = 6 must surface in winnow_candidates
    (min_shared=1) under BOTH hash tiers — the deterministic guarantee;
    (b) winnow_verified's max_run_tokens must equal the true longest
    common token run (a Python DP ground truth) for every pair it
    emits."""
    import random

    from bulkfhirloader_spark.operators import text as t

    vocab = [f"w{i}" for i in range(10)]
    rng = random.Random(0x19A4)

    def lcs_run(a: list, b: list) -> int:
        best, prev = 0, [0] * (len(b) + 1)
        for x in a:
            cur = [0] * (len(b) + 1)
            for j, y in enumerate(b, 1):
                if x == y:
                    cur[j] = prev[j - 1] + 1
                    best = max(best, cur[j])
            prev = cur
        return best

    for _trial in range(6):
        docs_py = {}
        for i in range(rng.randint(4, 9)):
            words = [vocab[rng.randrange(10)] for _ in range(rng.randint(4, 14))]
            if i >= 2 and rng.random() < 0.5:
                # plant a >= 6-token run copied from an earlier doc
                donor = docs_py[rng.randrange(i)]
                if len(donor) >= 6:
                    s = rng.randrange(len(donor) - 5)
                    run = donor[s : s + rng.randint(6, len(donor) - s)]
                    cut = rng.randrange(len(words) + 1)
                    words = words[:cut] + run + words[cut:]
            docs_py[i] = words
        docs = spark.createDataFrame(
            [(i, " ".join(w)) for i, w in docs_py.items()],
            "doc_id long, text string",
        )
        must_pair = {
            (a, b)
            for a in docs_py
            for b in docs_py
            if a < b and lcs_run(docs_py[a], docs_py[b]) >= 6
        }
        for tier in ("fold", "xxhash64"):
            cands = {
                (r["id_a"], r["id_b"])
                for r in t.winnow_candidates(
                    docs, min_shared=1, max_fp_df=10**6, hash_tier=tier
                ).collect()
            }
            assert must_pair <= cands, (_trial, tier, must_pair - cands)
        verified = {
            (r["id_a"], r["id_b"]): r["max_run_tokens"]
            for r in t.winnow_verified(
                docs, min_shared=1, max_fp_df=10**6, min_run_tokens=1
            ).collect()
        }
        # a run of R >= k common tokens is R - k + 1 consecutive same-
        # diagonal gram matches, and max_run_tokens adds k - 1 back — so
        # it must equal the DP longest-common-token-run exactly
        for (a, b), run_tokens in verified.items():
            assert run_tokens == lcs_run(docs_py[a], docs_py[b]), (
                _trial, a, b, run_tokens,
            )
        assert must_pair <= set(verified), (_trial, must_pair - set(verified))


# ---------------------------------------------------------------------------
# BPE merge rounds vs an independent Python reference (r15)
# ---------------------------------------------------------------------------

_BPE_DOCS = st.lists(
    st.lists(
        st.sampled_from(["a", "b", "c"]), min_size=0, max_size=8
    ),
    min_size=1,
    max_size=8,
)


def _bpe_ref(token_docs, k):
    """Straight-line BPE: per round count adjacent pairs, fuse the
    (count desc, pair asc) winner greedily left-to-right."""
    from collections import Counter

    seqs = [list(s) for s in token_docs if len(s) >= 2]
    merges = []
    for m in range(k):
        cnt: Counter = Counter()
        for s in seqs:
            for a, b in zip(s, s[1:]):
                cnt[(a, b)] += 1
        if not cnt:
            break
        (x, y), c = min(
            cnt.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((m, x, y, c))
        if m == k - 1:
            break

        def apply(s):
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(f"{x} {y}")
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            return out

        seqs = [apply(s) for s in seqs]
    return merges


@given(_BPE_DOCS)
@example([["a", "a", "a", "a"], ["b", "a", "a"], ["a", "a", "b", "b", "a", "a"]])
@example([["a"], []])
@_SETTINGS
def test_bpe_merge_rounds_match_python_reference(spark, token_docs):
    """bpe_merge_rounds' whole loop — per-round counts, (count desc, pair
    asc) winner, greedy left-to-right application including overlapping
    same-symbol runs — must equal a straight-line Python BPE on
    adversarial corpora (the SQL oracle pins the fixed corpus; this pins
    the shapes hypothesis finds: all-same-token runs, sub-2-token docs,
    early exhaustion)."""
    from bulkfhirloader_spark.operators import text as T

    docs = spark.createDataFrame(
        [(i, " ".join(s)) for i, s in enumerate(token_docs)],
        "doc_id long, text string",
    )
    got = [
        (r["merge_idx"], r["left_sym"], r["right_sym"], r["pair_count"])
        for r in T.bpe_merge_rounds(docs, n_merges=3).collect()
    ]
    assert sorted(got) == sorted(_bpe_ref(token_docs, 3))


def test_bpe_merge_rounds_unchained_parity_and_guards(spark):
    """checkpoint_rounds=False (nested-lineage form) must learn the same
    merge table; n_merges < 1 refuses; the working checkpoints are
    released (only pre-existing blocks remain stored)."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "b a a c c"), (3, "c c b a")],
        "doc_id long, text string",
    )
    sc = spark.sparkContext
    before = len(sc._jsc.sc().getRDDStorageInfo())
    chained = sorted(map(tuple, T.bpe_merge_rounds(docs, n_merges=3).collect()))
    assert len(sc._jsc.sc().getRDDStorageInfo()) <= before
    plain = sorted(
        map(
            tuple,
            T.bpe_merge_rounds(docs, n_merges=3, checkpoint_rounds=False).collect(),
        )
    )
    assert chained == plain and len(chained) == 3
    with _pytest.raises(ValueError, match="n_merges"):
        T.bpe_merge_rounds(docs, n_merges=0)


def test_apply_bpe_merges_roundtrip_and_chunked_checkpoints(spark):
    """apply_bpe_merges (r15): segmenting the training corpus under the
    learned table reproduces the trainer's greedy application exactly
    (checked against the Python reference's final state); the chunked-
    checkpoint path (checkpoint_every=1) segments identically and its
    final cut is drainable via the candidate-checkpoint ledger; a plain
    [(left, right)] list is accepted."""
    from bulkfhirloader_spark import reuse
    from bulkfhirloader_spark.operators import dedup, text as T

    token_docs = [
        ["a", "a", "a", "a"],
        ["b", "a", "a"],
        ["x", "y", "x", "y"],
        ["solo"],
        [],
        ["a", "a", "b", "b", "a", "a"],
    ]
    docs = spark.createDataFrame(
        [(i, " ".join(s)) for i, s in enumerate(token_docs)],
        "doc_id long, text string",
    )
    merges = T.bpe_merge_rounds(docs, n_merges=3)
    seq = [
        (r["left_sym"], r["right_sym"])
        for r in sorted(merges.collect(), key=lambda r: r["merge_idx"])
    ]

    def ref_apply(s):
        for x, y in seq:
            out, i = [], 0
            while i < len(s):
                if i + 1 < len(s) and s[i] == x and s[i + 1] == y:
                    out.append(f"{x} {y}")
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return s

    expected = {i: ref_apply(list(s)) for i, s in enumerate(token_docs)}
    got = {
        r["doc_id"]: list(r["syms"])
        for r in T.apply_bpe_merges(docs, merges).collect()
    }
    assert got == expected
    dedup.release_candidate_checkpoints()
    base_ledger = len(reuse._live_candidate_checkpoints)
    got_chunked = {
        r["doc_id"]: list(r["syms"])
        for r in T.apply_bpe_merges(docs, seq, checkpoint_every=1).collect()
    }
    assert got_chunked == expected
    # intermediate cuts released in-loop; the final cut is ledgered
    assert len(reuse._live_candidate_checkpoints) == base_ledger + 1
    assert dedup.release_candidate_checkpoints() == base_ledger + 1


def test_bpe_arrow_tier_matches_fold(spark):
    """r15 review: the Arrow application tier (linear Python token loop
    — the long-document path where the fold's per-step accumulator copy
    is effectively quadratic in doc length) must learn the same merge
    table and produce the same segmentation as the fold tier; bad tier
    names refuse."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import text as T

    docs = spark.createDataFrame(
        [(1, "a a a a b"), (2, "b a a c c"), (3, "c c b a"), (4, ""),
         (5, "a " * 200 + "b")],
        "doc_id long, text string",
    )
    fold_m = sorted(map(tuple, T.bpe_merge_rounds(docs, n_merges=3).collect()))
    arrow_m = sorted(
        map(
            tuple,
            T.bpe_merge_rounds(docs, n_merges=3, apply_tier="arrow").collect(),
        )
    )
    assert fold_m == arrow_m and len(fold_m) == 3
    merges = T.bpe_merge_rounds(docs, n_merges=3)
    fold_seg = {
        r["doc_id"]: list(r["syms"])
        for r in T.apply_bpe_merges(docs, merges).collect()
    }
    arrow_seg = {
        r["doc_id"]: list(r["syms"])
        for r in T.apply_bpe_merges(docs, merges, apply_tier="arrow").collect()
    }
    assert fold_seg == arrow_seg
    with _pytest.raises(ValueError, match="apply_tier"):
        T.bpe_merge_rounds(docs, n_merges=2, apply_tier="pandas")
    with _pytest.raises(ValueError, match="apply_tier"):
        T.apply_bpe_merges(docs, merges, apply_tier="pandas")


def test_bpe_arrow_tier_preserves_non_integer_id_type(spark):
    """r16 advisor finding: _apply_merges_arrow hardcoded every extra
    column as `long` in its mapInPandas schema, so apply_tier="arrow"
    crashed (Arrow type coercion) for any non-integer id column while
    the fold tier preserved the type.  The schema now derives each
    extra column's type from the input — string ids must round-trip
    through the arrow tier identically to the fold tier."""
    from bulkfhirloader_spark.operators import text as T

    docs = spark.createDataFrame(
        [("d-1", "a a a a b"), ("d-2", "b a a c c"), ("d-3", "")],
        "doc_id string, text string",
    )
    merges = [("a", "a"), ("aa", "aa")]
    fold = T.apply_bpe_merges(docs, merges)
    arrow = T.apply_bpe_merges(docs, merges, apply_tier="arrow")
    assert arrow.schema["doc_id"].dataType == fold.schema["doc_id"].dataType
    assert {r["doc_id"]: list(r["syms"]) for r in arrow.collect()} == {
        r["doc_id"]: list(r["syms"]) for r in fold.collect()
    }
