"""Semantic tests for dedup + similarity on planted fixtures: exact dups,
near-dups (one-word edits), and unrelated docs must separate correctly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR
from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def planted(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and then runs far away "
        "into the deep dark forest to find some food for the long cold winter"
    )
    near = base.replace("cold", "harsh")  # one-token edit -> near-dup
    other = (
        "completely different subject matter entirely unrelated words about "
        "spaceships orbiting distant planets while robots compute trajectories"
    )
    rows = [
        (1, base),
        (2, base),          # exact dup of 1
        (3, near),          # near dup of 1
        (4, other),
        (5, "  " + base.upper() + "  "),  # normalized dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(planted):
    out = {r["keep_id"]: r["dup_count"] for r in dedup.exact_dedup(planted).collect()}
    assert out[1] == 2  # docs 1,2
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_exact_dedup_normalized_collapses_case(planted):
    out = {r["keep_id"]: r["dup_count"] for r in
           dedup.exact_dedup(planted, normalize=True).collect()}
    assert out[1] == 3  # 1, 2, and the upper-cased 5


def test_minhash_finds_near_dup(planted):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_near_dup_pairs(planted, threshold=0.5).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_simhash_finds_near_dup(spark):
    # SimHash granularity: one edited token among ~200 flips only the planes
    # where that token's vote was the margin -- Hamming stays small.  On very
    # short docs a single edit can flip many planes (that's inherent, the
    # `planted` fixture above is too short for SimHash@3).
    words = [f"tok{i % 50}x{i}" for i in range(200)]
    base = " ".join(words)
    near = base.replace("tok0x0", "zulu", 1)
    other = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, near), (4, other)], "doc_id long, text string"
    )
    rows = dedup.simhash_near_dup_pairs(df, max_hamming=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
    assert pairs[(1, 2)] == 0  # exact dup -> identical signature
    assert (1, 3) in pairs and 0 < pairs[(1, 3)] <= 3
    assert not any(4 in p for p in pairs)


def test_ngram_jaccard_exact_values(planted):
    rows = dedup.ngram_jaccard_pairs(
        planted, threshold=0.05, allow_full_scan=True
    ).collect()
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert jac[(1, 2)] == 1.0
    assert 0.5 < jac[(1, 3)] < 1.0
    assert not any(4 in p for p in jac)


def test_ngram_jaccard_refuses_unbounded_full_scan(planted):
    with pytest.raises(ValueError):
        dedup.ngram_jaccard_pairs(planted)


def test_ngram_jaccard_restricts_to_candidates(planted, spark):
    # (2,3) is also a true near-dup pair but is NOT a candidate -> excluded
    cand = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    rows = dedup.ngram_jaccard_pairs(planted, candidates=cand, threshold=0.05).collect()
    assert {(r["id_a"], r["id_b"]) for r in rows} == {(1, 2), (1, 3)}
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    assert jac[(1, 2)] == 1.0  # same values as the full-scan baseline


def test_minhash_then_exact_verify_pipeline(planted):
    cand = dedup.minhash_near_dup_pairs(planted, threshold=0.3)
    rows = dedup.ngram_jaccard_pairs(planted, candidates=cand, threshold=0.5).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in rows}
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p for p in pairs)


def test_cosine_topk_orders_by_similarity(spark):
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.9, 0.1, 0.0]),   # closest to 0
            (2, [0.0, 1.0, 0.0]),
            (3, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    rows = similarity.cosine_topk_bruteforce(q, emb, k=3).collect()
    ranked = [r["vec_id"] for r in sorted(rows, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]


def test_connected_components_and_clusters(spark):
    # chain 1-2-3 plus isolated pair (10, 11): two clusters
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"]
            for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    clusters = {r["component"]: (r["cluster_size"], r["keep_id"])
                for r in dedup.duplicate_clusters(pairs).collect()}
    assert clusters == {1: (3, 1), 10: (2, 10)}


def test_connected_components_long_chain_converges(spark):
    """Pointer jumping makes convergence O(log diameter): a 64-node chain
    (worst case for plain min-propagation, which would need ~63 rounds)
    must fully collapse within a 10-round budget.  local_threshold=0
    forces the distributed loop — the small-graph tier would satisfy any
    budget trivially."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    comp = {r["node"]: r["component"]
            for r in dedup.connected_components(
                pairs, max_iter=10, local_threshold=0).collect()}
    assert comp == {i: 0 for i in range(64)}


def test_connected_components_raises_when_budget_exhausted(spark):
    """Partial labels must never be silently returned: they would split one
    duplicate cluster into several and keep extra survivors.  (Distributed
    tier only — the driver tier has no iteration budget.)"""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "id_a long, id_b long"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(pairs, max_iter=2, local_threshold=0)


def test_connected_components_local_tier_matches_distributed(spark):
    """The size-gated driver tier must be label-for-label identical to the
    distributed min-propagation loop on an awkward graph (chains, a
    clique, isolated pairs, values out of order)."""
    edges = (
        [(i, i + 1) for i in range(0, 20, 2)]          # 10 isolated pairs
        + [(100 + i, 100 + i + 1) for i in range(15)]  # 16-node chain
        + [(a, b) for a in range(200, 205) for b in range(a + 1, 205)]  # clique
        + [(999, 7), (7, 500)]                          # cross-range links
    )
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    local = {(r["node"], r["component"])
             for r in dedup.connected_components(pairs).collect()}
    dist = {(r["node"], r["component"])
            for r in dedup.connected_components(
                pairs, local_threshold=0).collect()}
    assert local == dist and len(local) > 0


def test_incremental_admission_local_tier_matches_distributed(spark):
    """The driver-side admission tier (collect tagged pairs + union-find)
    must admit exactly the same ids as the distributed flow."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    base = "the quick brown fox jumps over the lazy dog wearing hat number"
    existing = mk([(2 * i, f"{base} {i} unique existing filler tail") for i in range(30)])
    new_rows = (
        # near-dups of existing docs (rejected), plus a new-new dup cluster,
        # plus genuinely fresh docs (admitted)
        [(2 * i + 1, f"{base} {i} unique existing filler tail extra") for i in range(10)]
        + [(101, f"{base} cluster alpha beta gamma delta shared body"),
           (103, f"{base} cluster alpha beta gamma delta shared body tail"),
           (105, f"{base} cluster alpha beta gamma delta shared body tails")]
        + [(201 + 2 * i, f"totally fresh document number {i} with its own distinct words {i}")
           for i in range(10)]
    )
    new_batch = mk(new_rows)
    local = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    # the admitted-set memo key omits local_threshold BY DESIGN (both tiers
    # promise identical decisions) — clear it so the second call genuinely
    # executes the distributed flow instead of replaying the local tier's
    # memoized decision, which would make this equivalence check vacuous
    dedup._ADMIT_MEMO.clear()
    dist = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing, new_batch, local_threshold=0
        ).collect()
    )
    assert local == dist and 0 < len(local) < len(new_rows)


def test_minhash_max_bucket_size_caps_boilerplate_clique(spark):
    """max_bucket_size drops band rows from oversized buckets: a 40-doc
    boilerplate clique (whose every band bucket has ~40 members) emits
    zero pairs under a cap of 10, while an ordinary near-dup pair (bucket
    size 2) still surfaces — and with the cap off the clique dominates."""
    base = "the same boilerplate body repeated across the whole mirror set"
    rows = [(i, f"{base} common tail marker {'x' if i % 2 else 'y'}") for i in range(40)]
    pair_body = " ".join(f"glacier moraine token{j} drift" for j in range(12))
    rows += [
        (100, f"{pair_body} terminal"),
        (101, f"{pair_body} lateral"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = dedup.minhash_near_dup_pairs(docs, threshold=0.5).collect()
    capped = dedup.minhash_near_dup_pairs(
        docs, threshold=0.5, max_bucket_size=10
    ).collect()
    assert len(uncapped) > 100  # the clique's C(~40,2) pairs dominate
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped}
    assert (100, 101) in capped_pairs  # small buckets unaffected
    assert all(a >= 100 for a, _ in capped_pairs)  # clique fully capped

    with pytest.raises(ValueError):
        dedup.minhash_near_dup_pairs(docs, max_bucket_size=1)


def test_capped_band_table_computed_once(spark):
    """r16 (guide §2.4): the capped band table feeds both self-join sides,
    and when Catalyst broadcasts one side ReuseExchange cannot dedupe the
    build — the Exchange+Sort+Window cap chain executed once PER SIDE
    (the committed r16 before-plan carried two Window chains).  With
    share=True the chain runs once behind a ledgered lazy checkpoint: the
    returned plan carries ZERO Window operators (both sides read blocks),
    the checkpoint is ledgered (drainable), and the pair set is identical
    to the inline shape."""
    base = "the same boilerplate body repeated across the whole mirror set"
    rows = [(i, f"{base} common tail marker {'x' if i % 2 else 'y'}") for i in range(40)]
    pair_body = " ".join(f"glacier moraine token{j} drift" for j in range(12))
    rows += [(100, f"{pair_body} terminal"), (101, f"{pair_body} lateral")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    ledger_before = len(reuse._live_candidate_checkpoints)
    capped = dedup.minhash_near_dup_pairs(docs, threshold=0.5, max_bucket_size=10)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    # r17 (verdict #3): the cap chain runs once behind a ledgered
    # persist(MEMORY_AND_DISK) — both self-join sides read ONE
    # InMemoryRelation, and the only Window in the plan text is that
    # cached subtree's own printout (no Window executes outside it)
    assert plan.count("InMemoryTableScan") >= 2, plan
    first_imr = plan.find("InMemoryRelation")
    assert first_imr != -1 and "Window" not in plan[:first_imr], plan
    assert len(reuse._live_candidate_checkpoints) == ledger_before + 1
    got = sorted((r["id_a"], r["id_b"]) for r in capped.collect())

    # inline reference shape (share off), same inputs
    from pyspark.sql import functions as F

    sigs = dedup.cached_minhash_signatures(docs, "doc_id", "text", 32, 3)
    banded = sigs.select(
        F.col("doc_id"),
        F.posexplode(dedup.band_hash_array("minhash", 8, 32)).alias(
            "band_idx", "band_hash"
        ),
    )
    inline = dedup._cap_band_buckets(banded, 10)
    left = inline.select(F.col("doc_id").alias("id_a"), "band_idx", "band_hash")
    right = inline.select(F.col("doc_id").alias("id_b"), "band_idx", "band_hash")
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
        # the estimate filter is downstream of the cap; compare candidates
        # of the capped proposal only
    )
    got_cand = {(a, b) for a, b in got}
    assert got_cand <= set(want)
    assert (100, 101) in got_cand
    dedup.release_candidate_checkpoints()


def test_embedding_lsh_bucket_cap(spark):
    """max_bucket_size on the hyperplane tier: a 30-vector near-identical
    cluster (one bucket per table) emits no pairs under a cap of 10, while
    an ordinary planted near-dup pair still surfaces."""
    import random

    rng = random.Random(3)
    base = [rng.gauss(0, 1) for _ in range(16)]
    rows = [
        (i, [v * (1 + 0.001 * (i % 7)) for v in base]) for i in range(30)
    ]  # same direction -> same bucket cells
    other = [rng.gauss(0, 1) for _ in range(16)]
    rows += [(100, other), (101, [v * 1.01 for v in other])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, threshold=0.95, n_planes=8, dim=16
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, threshold=0.95, n_planes=8, dim=16, max_bucket_size=10
        ).collect()
    }
    assert len(uncapped) > 100 and (100, 101) in uncapped
    assert capped == {(100, 101)}


def test_minhash_bucket_census_margin(spark):
    """Pin the dedup_minhash_capped geometry: its cap (32) must stay >= 2x
    the worst band-bucket population on the test corpus, so the registry
    row keeps certifying 'cap engaged, answer undisturbed'.  If testdata
    regeneration ever grows a boilerplate bucket past cap/2, this fails
    loudly and the cap gets re-measured (registry conventions: measured
    margins, never guessed)."""
    from bulkfhirloader_spark.operators.dedup import (
        band_hash_array,
        cached_minhash_signatures,
    )
    from bulkfhirloader_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    sigs = cached_minhash_signatures(docs, "doc_id", "text", 16, 3)
    banded = sigs.select(
        F.posexplode(band_hash_array(F.col("minhash"), 8, 16)).alias(
            "band_idx", "band_hash"
        )
    )
    worst = (
        banded.groupBy("band_idx", "band_hash").count().agg(F.max("count")).collect()
    )[0][0]
    assert worst <= 16, (
        f"worst band bucket {worst} exceeds cap/2=16 — re-measure the "
        "dedup_minhash_capped cap (13 at sf0.1 when pinned)"
    )


def test_incremental_admission_bucket_cap_memo_isolated(spark):
    """max_bucket_size on the admission path: capped mega-buckets stop
    proposing pairs (boilerplate batch docs pass through — the documented
    recall trade), ordinary near-dups are still rejected, and the two
    geometries never share a memoized decision (cap is part of the key)."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    boiler = "identical boilerplate navigation header body footer block repeated"
    existing = mk(
        [(i, f"{boiler} tail {'x' if i % 2 else 'y'}") for i in range(20)]
        + [(50, "an ordinary existing page about riparian woodland ecology here")]
    )
    new_batch = mk(
        [(100 + i, f"{boiler} tail {'x' if i % 2 else 'y'}") for i in range(5)]
        + [(200, "an ordinary existing page about riparian woodland ecology too")]
    )
    dedup._ADMIT_MEMO.clear()
    uncapped = {
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    }
    capped = {
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing, new_batch, max_bucket_size=8
        ).collect()
    }
    # uncapped: every boilerplate newcomer collides with the existing
    # cluster and is rejected; 200 is rejected as a near-dup of 50
    assert uncapped == set()
    # capped: the >8-member boilerplate buckets are excluded, so those
    # docs are never proposed and pass through; the 2-member buckets of
    # the ordinary near-dup still reject 200
    assert capped == {100, 101, 102, 103, 104}


def test_connected_components_null_node_both_tiers(spark):
    """A NULL edge endpoint is an isolated node labeled NULL on BOTH tiers
    (equi-joins never match NULL in the distributed loop; the union-find
    mirrors that instead of raising TypeError on None comparisons)."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 5), (7, None)], "id_a long, id_b long"
    )
    for thresh in (100_000, 0):  # local tier, then distributed
        got = {
            (r["node"], r["component"])
            for r in dedup.connected_components(pairs, local_threshold=thresh).collect()
        }
        assert (None, None) in got
        assert (1, 1) in got and (2, 1) in got and (3, 1) in got
        # 5 and 7 only touch the NULL node, so they stay their own components
        assert (5, 5) in got and (7, 7) in got


def test_incremental_admission_null_id_consistent_cold_warm_dist(spark):
    """A NULL-id row in the new batch is never admitted, identically on the
    cold local tier, the warm memo replay, and the distributed tier (the
    r8 review found the cold no-rejects branch used to keep it while the
    warm replay's semi join dropped it)."""
    mk = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    existing = mk([(1, "some very ordinary existing document body here")])
    new_batch = mk(
        [
            (10, "a completely fresh document about gardens and rivers"),
            (None, "an id-less row that must never be admitted anywhere"),
        ]
    )
    dedup._ADMIT_MEMO.clear()
    cold = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    warm = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    dedup._ADMIT_MEMO.clear()
    dist = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing, new_batch, local_threshold=0
        ).collect()
    )
    assert cold == warm == dist == [10]


def test_clusters_from_minhash_pairs(planted):
    pairs = dedup.minhash_near_dup_pairs(planted, threshold=0.5)
    clusters = {r["keep_id"]: r["cluster_size"]
                for r in dedup.duplicate_clusters(pairs).collect()}
    # docs 1,2,3 plus 5 (minhash shingles are normalized, so the upper-cased
    # dup collapses too) form one cluster; 4 is isolated (absent)
    assert clusters.get(1) == 4
    assert 4 not in clusters


def test_embedding_cosine_pairs_exact_and_lsh(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    # plant near-dup clones: same direction (901), slightly perturbed (902)
    rows.append((901, [v * 1.01 for v in rows[0][1]]))
    rows.append((902, [v * 0.99 + 0.001 for v in rows[1][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, threshold=0.95, allow_full_scan=True
        ).collect()
    }
    assert (0, 901) in exact and (1, 902) in exact
    assert len(exact) < 10  # random pairs don't reach 0.95

    with pytest.raises(ValueError):
        dedup.embedding_cosine_pairs(emb)  # unbounded full scan refused

    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_cosine_pairs(
            emb, threshold=0.95, n_planes=4, dim=16
        ).collect()
    }
    assert lsh <= exact  # exact verify means no false positives
    assert (0, 901) in lsh  # identical direction -> identical bucket bits


def test_ivf_topk_contains_true_neighbor(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    rows.append((999, [v + 0.001 for v in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {
        r["vec_id"]
        for r in similarity.cosine_topk_ivf(
            q, emb, k=5, n_clusters=8, n_probe=2
        ).collect()
    }
    assert 999 in got  # near-identical vector lands in the query's own cell
    brute = {r["vec_id"] for r in similarity.cosine_topk_bruteforce(q, emb, k=5).collect()}
    assert len(got & brute) >= 2  # decent recall with 2/8 cells probed


def test_ivf_sampled_training_still_finds_true_neighbor(spark):
    """train_fraction<1 trains the quantizer on a seeded sample, but the
    assignment covers every vector — the planted near-identical neighbor
    must still surface (it shares the query's cell regardless of where the
    sampled centroids landed), and output schema/k are unchanged."""
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(400)]
    rows.append((999, [v + 0.001 for v in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.cosine_topk_ivf(
        q, emb, k=5, n_clusters=8, n_probe=2, train_fraction=0.25
    ).collect()
    assert {r["vec_id"] for r in got} >= {999}
    assert len(got) == 5 and [r["rank"] for r in got] == [1, 2, 3, 4, 5]


def test_lsh_topk_contains_true_neighbor(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(200)]
    # plant an almost-identical neighbor of vec 0
    rows.append((999, [v + 0.001 for v in rows[0][1]]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = {r["vec_id"] for r in similarity.cosine_topk_lsh(q, emb, k=5, dim=16).collect()}
    assert 999 in got


def test_multitable_lsh_equals_exact_tiers(spark):
    """The registry's verified operating points (4 planes, 12 OR-amplified
    tables) must recall EVERY true pair / top-5 neighbor on the benchmark
    corpus — that total-recall equivalence is exactly what the DuckDB
    oracle asserts at sf0.01, so guard it at sf0.001 too."""
    from bulkfhirloader_spark.sources.tables import load_table
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["id_a"], r["id_b"])
             for r in dedup.embedding_cosine_pairs(
                 emb, threshold=0.4, allow_full_scan=True).collect()}
    lsh = {(r["id_a"], r["id_b"])
           for r in dedup.embedding_cosine_pairs(
               emb, threshold=0.4, n_planes=4, n_tables=12).collect()}
    assert lsh == exact and len(exact) > 0

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {(r["query_id"], r["vec_id"], r["rank"])
             for r in similarity.cosine_topk_bruteforce(q, emb, k=5).collect()}
    ann = {(r["query_id"], r["vec_id"], r["rank"])
           for r in similarity.cosine_topk_lsh(
               q, emb, k=5, n_planes=4, n_tables=12).collect()}
    assert ann == brute and len(brute) == 25


def test_quantize_int8_roundtrip_error_bounded(spark):
    """Property over random vectors: dequantized values are within half a
    quantization step of the original, q stays in [-127, 127], and the
    max-|x| element hits exactly ±127."""
    import random

    from bulkfhirloader_spark.operators.similarity import quantize_int8

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-10, 10) for _ in range(16)]) for i in range(50)
    ] + [(50, [0.0] * 16)]  # all-zero vector must not divide by zero
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    scale, q = quantize_int8(F.col("embedding"))
    out = df.select("vec_id", "embedding", scale.alias("s"), q.alias("q")).collect()
    for r in out:
        assert all(-127 <= v <= 127 for v in r["q"])
        if r["s"] == 0.0:
            assert all(v == 0 for v in r["q"])
            continue
        for x, v in zip(r["embedding"], r["q"]):
            assert abs(v * r["s"] - x) <= r["s"] / 2 + 1e-12
        assert max(abs(v) for v in r["q"]) == 127


def test_l2_normalize_hoisted_norm_and_zero_vector(spark):
    """l2_normalize takes a precomputed norm column (the O(d) aggregate must
    not be spliced into every element's expression) and maps all-zero
    vectors to zeros instead of NaN — KMeans in cosine_topk_ivf must never
    see NaN features."""
    import math

    df = spark.createDataFrame(
        [(0, [3.0, 4.0]), (1, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    out = {
        r["vec_id"]: r["nv"]
        for r in df.withColumn("_n", similarity.l2_norm(F.col("embedding")))
        .select(
            "vec_id",
            similarity.l2_normalize(F.col("embedding"), F.col("_n")).alias("nv"),
        )
        .collect()
    }
    assert out[0] == [0.6, 0.8]
    assert out[1] == [0.0, 0.0]  # not NaN
    assert all(not math.isnan(v) for vs in out.values() for v in vs)


def test_ivf_topk_survives_zero_vector_in_corpus(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(100)]
    rows.append((500, [0.0] * 16))  # all-zero corpus vector
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = similarity.cosine_topk_ivf(q, emb, k=5, n_clusters=4, n_probe=2).collect()
    assert len(got) == 5
    assert all(not any(r["score"] != r["score"] for r in got) for _ in [0])


def test_classify_nearest_centroid_separable_clusters(spark):
    """Two well-separated clusters: every vector must take its own
    cluster's centroid label, including vectors whose true label is
    'wrong' (a label-noise point sitting in the other cluster)."""
    rows = [
        (1, 0, [1.0, 0.0, 0.1]),
        (2, 0, [0.9, 0.1, 0.0]),
        (3, 1, [0.0, 1.0, 0.1]),
        (4, 1, [0.1, 0.9, 0.0]),
        (5, 0, [0.0, 1.0, 0.0]),  # labeled 0 but sits in cluster 1
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    # centroids from the clean points only, so the noisy point can't drag
    cents = similarity.label_centroids(emb.filter("vec_id <= 4"), round_dp=6)
    got = {
        r["vec_id"]: r["predicted_label"]
        for r in similarity.classify_nearest_centroid(emb, cents).collect()
    }
    assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 1}


def test_classify_nearest_centroid_tie_breaks_to_smallest_label(spark):
    """Identical centroids (same mean vector for labels 3 and 7): the
    rounded scores tie exactly, so the smaller label must win — the
    determinism the oracle's row_number restatement relies on."""
    emb = spark.createDataFrame(
        [
            (1, 3, [1.0, 0.0]),
            (2, 7, [1.0, 0.0]),
        ],
        "vec_id long, label int, embedding array<double>",
    )
    cents = similarity.label_centroids(emb, round_dp=6)
    out = similarity.classify_nearest_centroid(emb, cents).collect()
    assert all(r["predicted_label"] == 3 for r in out)


def test_random_projection_preserves_relative_distance(spark):
    """JL with a k=32 sign matrix: a vector pair that is far apart in the
    original 16-d space stays farther apart (in expectation, and with this
    fixed seed, concretely) than a near-identical pair; output dim and
    scaling are as declared; empty matrix raises."""
    import math

    a = [1.0] * 16
    b = [1.0] * 15 + [0.9]          # near-dup of a
    c = [-1.0] * 16                 # far from a
    emb = spark.createDataFrame(
        [(1, a), (2, b), (3, c)], "vec_id long, embedding array<double>"
    )
    signs = similarity.sign_matrix(16, 32)
    got = {
        r["vec_id"]: r["projection"]
        for r in similarity.random_projection(emb, signs).collect()
    }
    assert all(len(v) == 32 for v in got.values())
    d_ab = math.dist(got[1], got[2])
    d_ac = math.dist(got[1], got[3])
    assert d_ab < d_ac
    # scaled projection of a ±1 vector has per-component magnitude <= sqrt(16)/sqrt(32)*16... bound loosely
    with pytest.raises(ValueError):
        similarity.random_projection(emb, [])


def test_random_projection_zero_shuffle_plan(spark):
    emb = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    plan = (
        similarity.random_projection(emb, similarity.sign_matrix(2, 4))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cosine_topk_pandas_matches_codegen_bruteforce(spark):
    """The Arrow/BLAS tier must return the same neighbors and ranks as the
    Catalyst-fold tier, with scores equal to ~1e-9 (sum-order noise only);
    zero-norm corpus vectors are dropped; empty query set raises."""
    import math

    rows = [
        (i, [math.sin(i * 7 + j) for j in range(8)]) for i in range(30)
    ] + [(99, [0.0] * 8)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = emb.where(F.col("vec_id") < 3)
    fold = similarity.cosine_topk_bruteforce(
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
        emb,
        k=4,
    )
    blas = similarity.cosine_topk_pandas(q, emb, k=4)
    f = {(r["query_id"], r["rank"]): (r["vec_id"], r["score"]) for r in fold.collect()}
    b = {(r["query_id"], r["rank"]): (r["vec_id"], r["score"]) for r in blas.collect()}
    assert set(f) == set(b)
    for key in f:
        assert f[key][0] == b[key][0], key
        assert abs(f[key][1] - b[key][1]) < 1e-9
    assert all(vid != 99 for vid, _ in b.values())
    with pytest.raises(ValueError):
        similarity.cosine_topk_pandas(emb.where(F.col("vec_id") < 0), emb)


def test_survivors_by_score_picks_best_member(spark):
    """Two clusters {1,2,3} and {10,11}: survivor is the highest score,
    ties break to the smaller id."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    scores = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 1), (11, 4)], "doc_id long, score long"
    )
    got = {
        r["component"]: (r["cluster_size"], r["keep_id"], r["keep_score"])
        for r in dedup.survivors_by_score(pairs, scores).collect()
    }
    assert got == {1: (3, 2, 9), 10: (2, 11, 4)}


@pytest.mark.parametrize(
    "sf_dir", [SF_DIR, "/root/testdata/sf0.1"]
)
def test_simhash_candidates_cover_exact_pairs(spark, sf_dir):
    """Regeneration tripwire for the probabilistic simhash geometry
    (ADVICE r5): the banded-candidate set at the registry's production cut
    (band_bits=4, max_hamming=15 — the full 16x4 pigeonhole budget) must
    SUPERSET-cover the exact full-scan Jaccard >= 0.5 pair set, and the
    measured worst-case Hamming must keep >= 1 bit of margin under the
    cut.  The r6 sweep measured worst-case 9 (sf0.001) / 5 (sf0.01) /
    12 (sf0.1); if new testdata ever pushes a true pair past 14, this
    fails loudly instead of silently flipping the driver row red."""
    from bulkfhirloader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, allow_full_scan=True
        ).select("id_a", "id_b").collect()
    }
    cand = {
        (r.id_a, r.id_b)
        for r in dedup.simhash_near_dup_pairs(
            docs, band_bits=4, max_hamming=15
        ).select("id_a", "id_b").collect()
    }
    missed = exact - cand
    assert not missed, f"simhash cut misses {len(missed)} true pairs: {sorted(missed)[:5]}"
    # margin check: no true pair sits ON the cut boundary
    sigs = dedup.simhash_signatures(docs)
    a = sigs.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = sigs.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("h_b"))
    pairs_df = spark.createDataFrame(sorted(exact), "id_a long, id_b long")
    max_d = (
        pairs_df.join(a, "id_a").join(b, "id_b")
        .agg(F.max(F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))))
        .collect()[0][0]
    )
    assert max_d is None or max_d <= 14, f"worst-case Hamming {max_d} has no margin under 15"


def test_minhash_candidate_blowup_bounded_on_duplicated_corpus(spark):
    """Adversarial LSH load (VERDICT r5 #7): a corpus that is 10x mutual
    near-duplicates.  True near-dup clusters of size d inherently produce
    O(d) candidates per doc (the verify stage must score every true pair);
    what the banding geometry must bound is the FALSE-POSITIVE mass on
    top.  With K=16 in 8 bands of 2 (the registry geometry), candidate
    pairs per doc must stay within a small constant of the d-1 true
    pairs -- not corpus-sized -- and the LSH->exact-verify pipeline must
    terminate with every intra-cluster pair found.  The bounding knob is
    rows_per_band (band collision prob ~ s^rows_per_band): raise it if a
    corpus's background similarity pushes candidates/doc far above d."""
    base = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .where(F.length("text") > 50)
        .limit(200)
    )
    n_base = base.count()
    repl = 10
    copies = F.explode(F.array(*[F.lit(i) for i in range(repl)])).alias("copy")
    corpus = base.select("doc_id", "text", copies).select(
        (F.col("doc_id") * 1000 + F.col("copy")).alias("doc_id"), "text"
    )
    n_docs = n_base * repl

    # raw candidate pairs out of the banding stage (pre-verify)
    sigs = dedup.minhash_signatures(corpus, num_hashes=16)
    rpb = 2
    banded = sigs.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(7)),
                lambda b: F.xxhash64(
                    F.concat_ws(",", F.transform(
                        F.slice(F.col("minhash"), b * rpb + 1, rpb),
                        lambda x: x.cast("string")))),
            )
        ).alias("band_idx", "band_hash"),
    )
    n_cand = (
        banded.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * (F.col("c") - 1) / 2))
        .collect()[0][0]
    )
    true_pairs = n_base * repl * (repl - 1) // 2  # exact copies: d*(d-1)/2 per cluster
    cand_per_doc = n_cand / n_docs
    true_per_doc = true_pairs / n_docs
    # bounded: within 8x of the inherent true-pair load (8 bands can propose
    # the same true pair once per band before the distinct), never corpus-like
    assert cand_per_doc <= 8 * true_per_doc + 5, (
        f"candidates/doc {cand_per_doc:.1f} vs true/doc {true_per_doc:.1f}"
    )

    # and the verified pipeline terminates with every intra-cluster pair
    verified = dedup.minhash_near_dup_pairs(
        corpus, num_hashes=16, bands=8, threshold=0.5
    )
    got = verified.count()
    assert got >= true_pairs, (got, true_pairs)


def test_incremental_near_dup_filter_admission_rules(spark):
    """Planted incremental-admission scenario: near-dup-of-existing is
    rejected, mutual new-new near-dups keep only the min id, unique docs
    are admitted, and existing-existing duplication is never consulted."""
    base = "the quick brown fox jumps over the lazy dog while rain falls on rooftops"
    alt = "completely different text about spark shuffles partitions and codegen stages"
    uniq = "a third unrelated document mentioning embeddings tokens and training corpora"
    existing = spark.createDataFrame(
        [(1, base), (2, base + " extra tail"), (3, alt)],  # 1,2 are mutual dups: irrelevant
        "doc_id long, text string",
    )
    new_batch = spark.createDataFrame(
        [
            (10, base + " slightly changed"),     # dup of existing 1 -> reject
            (11, uniq + " epsilon"),              # dup of 12, min id -> keep
            (12, uniq + " delta"),                # dup of 11 -> reject
            (13, "totally novel content about watermarking late arriving events"),
        ],
        "doc_id long, text string",
    )
    got = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    assert got == [11, 13]


def test_containment_catches_snippet_jaccard_misses(spark):
    """A 12-word snippet quoted inside a 200-word doc: Jaccard is tiny
    (misses at 0.5) but containment(A in B) = 1.0 — the asymmetric case
    the operator exists for.  Also checks both directions and the
    rare-shingle (max_shingle_df) mode's engine-stable scoring space."""
    snippet = "the five boxing wizards jump quickly over the lazy brown dog tonight"
    filler = " ".join(f"unique{i} filler{i} word{i}" for i in range(60))
    big = filler + " " + snippet + " " + " ".join(f"tail{i}" for i in range(30))
    other = "entirely disjoint content about catalyst optimizer rules and codegen"
    docs = spark.createDataFrame(
        [(1, snippet), (2, big), (3, other)], "doc_id long, text string"
    )
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5, allow_full_scan=True)
    assert jac.where("id_a = 1 AND id_b = 2").count() == 0  # jaccard blind
    cont = dedup.ngram_containment_pairs(
        docs, threshold=0.9, allow_full_scan=True
    ).collect()
    got = {(r.id_a, r.id_b): (r.cont_a_in_b, r.cont_b_in_a) for r in cont}
    assert (1, 2) in got
    ab, ba = got[(1, 2)]
    assert ab == 1.0 and ba < 0.2  # snippet fully inside, big barely inside snippet
    assert (1, 3) not in got and (2, 3) not in got


def test_stored_ivf_index_matches_in_session_and_prunes(spark, tmp_path):
    """build_ivf_index + query_ivf_index must (a) reproduce the in-session
    cosine_topk_ivf result exactly at the same geometry — persistence adds
    no drift — and (b) push the probed-cluster union into the lists scan
    as a planning-time partition filter (untouched lists never listed)."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    path = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, path, n_clusters=8)
    stored = similarity.query_ivf_index(spark, path, q, k=5, n_probe=3)
    in_session = similarity.cosine_topk_ivf(q, emb, k=5, n_clusters=8, n_probe=3)
    s_rows = sorted((r.query_id, r.vec_id, round(r.score, 9), r.rank)
                    for r in stored.collect())
    m_rows = sorted((r.query_id, r.vec_id, round(r.score, 9), r.rank)
                    for r in in_session.collect())
    assert s_rows == m_rows
    plan = stored._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cluster" in plan


def test_pq_adc_superset_covers_exact_topk(spark):
    """Pins the registry's n_candidates=400 coverage assumption (simhash
    protocol): the ADC proposal at the registry geometry must contain every
    true top-5 neighbor, so a testdata regeneration that degrades PQ
    discrimination fails HERE, not as a red driver row."""
    from pyspark.sql import Window

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = similarity.cosine_topk_bruteforce(q, emb, k=5)
    got = similarity.cosine_topk_pq(q, emb, k=5, m=16, ksub=16, n_candidates=400)
    want = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    have = {(r["query_id"], r["vec_id"]) for r in got.collect()}
    assert want == have


def test_pq_sparse_candidates_partial_recall_and_compression(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.cosine_topk_bruteforce(q, emb, k=5).collect()}
    sparse = {(r["query_id"], r["vec_id"])
              for r in similarity.cosine_topk_pq(
                  q, emb, k=5, m=16, ksub=16, n_candidates=60).collect()}
    recall = len(exact & sparse) / len(exact)
    # near-random vectors are PQ's worst case; even so a 12%-of-corpus scan
    # must recover most true neighbors, and everything it returns is
    # exactly-scored so the top hit survives
    assert recall >= 0.6, recall
    # codes really are m small ints (the 16x memory story)
    books = similarity.pq_train_codebooks(emb, m=16, ksub=16)
    coded = similarity.pq_encode(emb, books).select("pq_code").first()[0]
    assert len(coded) == 16 and all(0 <= c < 16 for c in coded)


def test_ivfpq_sparse_probes_partial_recall(spark):
    """The approximate dials: probing 3 of 8 lists with a modest candidate
    budget must still recover most true neighbors (the corpus is clustered
    enough for the coarse quantizer to be informative), and every returned
    pair is exactly-scored."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"])
             for r in similarity.cosine_topk_bruteforce(q, emb, k=5).collect()}
    sparse = similarity.cosine_topk_ivfpq(
        q, emb, k=5, n_clusters=8, n_probe=3, m=16, ksub=16, n_candidates=100
    )
    rows = sparse.collect()
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(exact & got) / len(exact) >= 0.5
    # scores on returned pairs are the TRUE cosine (re-rank is exact):
    # spot-check one against a direct computation
    r0 = rows[0]
    import numpy as np

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in emb.collect()}
    a, b = vecs[r0["query_id"]], vecs[r0["vec_id"]]
    want = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    assert abs(r0["score"] - want) < 1e-9


def test_label_outliers_flags_planted_outlier(spark):
    """A vector far from its label's cluster must rank first; per-label
    output size is ceil(5% of label size); membership is stable under
    repartitioning (rank cutoff, not a float threshold)."""
    import numpy as np

    rng = np.random.RandomState(0)
    rows = []
    for label in (0, 1):
        base = np.zeros(8) if label == 0 else np.ones(8)
        for i in range(40):
            rows.append(
                (label * 100 + i, (base + rng.normal(0, 0.01, 8)).tolist(), label)
            )
    rows.append((999, (np.full(8, 5.0)).tolist(), 0))  # planted outlier in label 0
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = similarity.embedding_label_outliers(emb, top_frac=0.05)
    got = {(r["label"], r["outlier_rank"]): r["vec_id"] for r in out.collect()}
    assert got[(0, 1)] == 999
    # ceil(41 * 0.05) = 3 rows for label 0, ceil(40 * 0.05) = 2 for label 1
    import collections

    per_label = collections.Counter(l for (l, _r) in got)
    assert per_label[0] == 3 and per_label[1] == 2
    again = similarity.embedding_label_outliers(emb.repartition(7), top_frac=0.05)
    assert {r["vec_id"] for r in again.collect()} == set(got.values())


def test_memo_hygiene_dead_session_purge_and_collision_guard(spark):
    """Round-6 advisor findings on the persisted-result memos: (a) entries
    from a stopped session must be purged before LRU eviction ever calls
    unpersist on a dead handle (every memo instance:
    test_reuse.test_memo_purges_stopped_sessions_bounds_and_races); (b) a
    semanticHash key collision must be DETECTED via sameSemantics and
    rebuilt, never served."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    other = spark.createDataFrame(
        [(3, "iota kappa lambda mu"), (4, "nu xi omicron pi")],
        "doc_id long, text string",
    )
    dedup._SIG_MEMO.clear()
    sigs = dedup.cached_minhash_signatures(docs)
    ((owner, key),) = dedup._SIG_MEMO._entries
    assert owner is spark.sparkContext

    # (b) forge a collision: same key, but the stored input is a DIFFERENT
    # plan — the hit must be rejected (sameSemantics) and recomputed
    dedup._SIG_MEMO._entries[(owner, key)] = ([other], sigs)
    rebuilt = dedup.cached_minhash_signatures(docs)
    got = {r["doc_id"] for r in rebuilt.collect()}
    assert got == {1, 2}
    # and the memo now holds the corrected entry (confirmed hit next call)
    assert dedup.cached_minhash_signatures(docs) is rebuilt

    # admission memo end-to-end: warm call returns identical admitted ids
    dedup._ADMIT_MEMO.clear()
    existing = docs
    batch = spark.createDataFrame(
        [(11, "alpha beta gamma delta"), (12, "completely novel content here")],
        "doc_id long, text string",
    )
    cold = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, batch).collect()
    )
    assert len(dedup._ADMIT_MEMO) == 1
    warm = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, batch).collect()
    )
    assert cold == warm == [12]  # 11 is an exact dup of existing doc 1


def test_memo_thread_safety_under_concurrent_callers(spark):
    """A concurrent harness may invoke registry queries from multiple
    threads; the memo dicts must neither raise (OrderedDict mutation mid
    eviction scan) nor serve a wrong entry.  8 threads x 4 distinct
    corpora, eviction bound 4 -> constant churn."""
    import threading

    corpora = [
        spark.createDataFrame(
            [(j * 100 + i, f"corpus {j} doc {i} alpha beta gamma") for i in range(6)],
            "doc_id long, text string",
        )
        for j in range(4)
    ]
    expected = [
        {r["doc_id"] for r in c.select("doc_id").collect()} for c in corpora
    ]
    dedup._SIG_MEMO.clear()
    errors: list = []

    def worker(tid: int) -> None:
        try:
            for k in range(6):
                j = (tid + k) % 4
                sigs = dedup.cached_minhash_signatures(corpora[j])
                got = {r["doc_id"] for r in sigs.collect()}
                assert got == expected[j], (tid, j, got)
        except Exception as ex:  # noqa: BLE001
            errors.append(ex)

    threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(dedup._SIG_MEMO) <= dedup._SIG_MEMO.maxsize


def test_ledger_scoped_release_spares_concurrent_entries(spark):
    """r16 advisor finding: incremental_near_dup_filter's old drain
    snapshotted len() and popped to that tail, so an entry ledgered by a
    CONCURRENT thread in the window got released (its DataFrame became
    unrecomputable).  The capture-frame drain releases exactly the
    entries this thread's own nested call created; a foreign entry
    ledgered mid-window must survive and stay collectable."""
    reuse.release_candidate_checkpoints()
    own = spark.createDataFrame([(1, "a")], "id long, v string")
    foreign = spark.createDataFrame([(2, "b")], "id long, v string")
    with reuse.capture_frame() as frame:
        mine = reuse.lazy_checkpoint(own)
        # simulate another driver thread ledgering in the window: no
        # frame is active in THAT thread, so its entry is not captured
        import threading

        t = threading.Thread(
            target=lambda: reuse.ledger_append(
                foreign.localCheckpoint(eager=False)
            )
        )
        t.start()
        t.join()
    assert frame == [mine]
    reuse.release_captured(frame)
    assert frame == []
    # the foreign entry is still ledgered and its checkpoint still works
    assert len(reuse._live_candidate_checkpoints) == 1
    assert reuse._live_candidate_checkpoints[0].collect() == [(2, "b")]
    # double-release of already-drained entries is a no-op
    captured = [mine]
    reuse.release_captured(captured)
    assert reuse.release_candidate_checkpoints() == 1


def test_simhash_production_geometry_pigeonhole_guarantee(spark):
    """The production geometry (16-bit bands over a 64-bit signature,
    max_hamming=3) has a DETERMINISTIC recall guarantee: <=3 flipped bits
    cannot touch all 4 bands, so every true pair within Hamming 3 shares
    a band and is proposed.  Planted signatures: for every k in 0..3 and
    every spread of k flips across bands, the pair MUST be found with the
    exact Hamming distance; a distance-4 pair with one flip in EACH band
    must NOT collide (the bound is tight)."""
    import itertools
    import random

    rng = random.Random(7)
    rows = []
    expected = {}
    pid = 0
    # k flips confined to 'spread' distinct bands, all ways to choose bands
    for k in range(0, 4):
        for bands_hit in itertools.combinations(range(4), max(k, 1)) if k else [()]:
            base = rng.getrandbits(63)  # keep sign bit clear (LongType)
            flips = 0
            for i, band in enumerate(bands_hit):
                # place one flip per chosen band (k flips total, k<=3 so
                # each chosen band gets exactly one here)
                bit = band * 16 + rng.randrange(16)
                flips |= 1 << bit
            other = base ^ flips
            a, b = pid, pid + 1
            pid += 2
            rows += [(a, base), (b, other)]
            expected[(a, b)] = k
    # tight-bound case: 4 flips, one per band -> no shared band
    base = rng.getrandbits(63)
    flips = 0
    for band in range(4):
        flips |= 1 << (band * 16 + rng.randrange(16))
    far_a, far_b = pid, pid + 1
    rows += [(far_a, base), (far_b, base ^ flips)]

    # spread ids so planted pairs can't collide by chance: use big gaps
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    docs = sigs.select("doc_id")  # unused when sigs is injected
    out = dedup.simhash_near_dup_pairs(docs, sigs=sigs)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    for pair, k in expected.items():
        assert got.get(pair) == k, (pair, k, got.get(pair))
    assert (far_a, far_b) not in got  # 4 flips across 4 bands: no band match


# ---------------------------------------------------------------------------
# Stored-signature admission tier (r9, verdict "Next round #3")
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_signature_store_admission_parity(spark, sf_dir, tmp_path):
    """The store-probing tier must produce the SAME admitted set as the
    self-contained operator, pinned at two scales (the r8 verdict's "done"
    bar).  Even doc_ids play the existing corpus, odd the new batch; the
    store is built from the existing side under the same geometry."""
    from bulkfhirloader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(existing, store, num_hashes=16, shingle_words=3)

    plain = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )
    stored = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing, new_batch, signature_store=store
        ).collect()
    )
    assert stored == plain and len(plain) > 0


@pytest.mark.parametrize("sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01"])
def test_bucketed_signature_store_admission_parity(spark, sf_dir, tmp_path):
    """r12: the BUCKETED banded store tier (band rows pre-projected into a
    bucketBy(band_hash) table, probe pushes the batch's band hashes as an
    IN filter) must admit EXACTLY what the plain store and the
    self-contained operator admit, at two scales — including after a
    catalog restart (table dropped; the probe auto-re-attaches) and after
    a layout-matching append.  Layout/banding mismatches refuse loudly."""
    from bulkfhirloader_spark.sources.bucketing import bucketed_table_name
    from bulkfhirloader_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    existing = docs.where(F.col("doc_id") % 2 == 0)
    new_batch = docs.where(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "bktstore")
    dedup.signature_store_write(
        existing, store, num_hashes=16, shingle_words=3, bands=8, num_buckets=8
    )

    plain = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(existing, new_batch).collect()
    )

    def stored_admitted():
        dedup._ADMIT_MEMO.clear()
        return sorted(
            r["doc_id"]
            for r in dedup.incremental_near_dup_filter(
                existing, new_batch, signature_store=store, validate_store_ids=True
            ).collect()
        )

    assert stored_admitted() == plain and len(plain) > 0

    # catalog restart: the probe must re-attach the band table by itself
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_sigbands', store)}`")
    assert stored_admitted() == plain

    # banding is pinned at write time
    with pytest.raises(ValueError, match="banded at write"):
        dedup.incremental_near_dup_filter(
            existing, new_batch, bands=4, signature_store=store
        )
    # layout mismatches refuse in both directions
    with pytest.raises(ValueError, match="banded-layout mismatch"):
        dedup.signature_store_write(new_batch, store)  # plain → bucketed
    with pytest.raises(ValueError, match="banded-layout mismatch"):
        dedup.signature_store_write(
            new_batch, store, bands=8, num_buckets=16
        )
    plain_store = str(tmp_path / "plainstore")
    dedup.signature_store_write(existing, plain_store)
    with pytest.raises(ValueError, match="banded-layout mismatch"):
        dedup.signature_store_write(
            existing, plain_store, bands=8, num_buckets=8
        )
    # bands without buckets (and vice versa) is a config error
    with pytest.raises(ValueError, match="come together"):
        dedup.signature_store_write(existing, str(tmp_path / "x"), bands=8)

    # layout-matching append from a restarted catalog extends the store:
    # fold the admitted batch in (the deployment loop), then probe a
    # SECOND batch (same texts under fresh ids — ids must stay unique
    # across the corpus) and pin parity against the self-contained
    # operator over the grown corpus.  Every doc of batch2 has an exact
    # twin in the grown corpus, so nothing is admitted — which only holds
    # if the APPENDED band rows are visible to the pruned probe.
    spark.sql(f"DROP TABLE `{bucketed_table_name('bfls_sigbands', store)}`")
    admitted_df = new_batch.join(
        spark.createDataFrame([(i,) for i in plain], "doc_id long"),
        "doc_id",
        "left_semi",
    )
    dedup.signature_store_write(
        admitted_df, store, num_hashes=16, shingle_words=3, bands=8, num_buckets=8
    )
    grown = existing.unionByName(admitted_df)
    batch2 = grown.select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    dedup._ADMIT_MEMO.clear()
    regrown = dedup.incremental_near_dup_filter(
        grown, batch2, signature_store=store, validate_store_ids=True
    )
    assert regrown.count() == 0


def test_signature_store_geometry_mismatch_raises(spark, tmp_path):
    """Probing a store built under a different (num_hashes, shingle_words)
    must hard-error — mismatched geometries never collide, so a silent
    probe would admit every duplicate."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"), (2, "eta theta iota kappa")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(docs, store, num_hashes=16, shingle_words=3)
    with pytest.raises(ValueError, match="geometry mismatch"):
        dedup.signature_store_read(spark, store, num_hashes=32, shingle_words=3)
    with pytest.raises(ValueError, match="geometry mismatch"):
        dedup.incremental_near_dup_filter(
            docs, docs, num_hashes=32, bands=8, signature_store=store
        )
    # append under the wrong geometry must also refuse
    with pytest.raises(ValueError, match="geometry mismatch"):
        dedup.signature_store_write(docs, store, num_hashes=16, shingle_words=5)


def test_signature_store_append_extends_and_invalidates_memo(spark, tmp_path):
    """The admission flow's deployment loop: admit batch 1, append its
    signatures, then batch 2 must be screened against the GROWN store —
    i.e. (a) append extends the stored rowset exactly like a rebuild over
    the union, and (b) the admitted-set memo keyed on the store listing
    must not serve the pre-append decision after the store grows."""
    base = "the quick brown fox jumps over the lazy dog while rain falls on rooftops"
    uniq = "unrelated content about catalyst shuffles codegen and arrow batches"
    corpus0 = spark.createDataFrame(
        [(1, base), (2, uniq)], "doc_id long, text string"
    )
    corpus1 = spark.createDataFrame(
        [(3, "totally novel text about beam search plus one token")],
        "doc_id long, text string",
    )
    # existing is the SAME DataFrame in both admission calls below — in the
    # stored tier, proposals come solely from the STORE's signatures, so
    # doc 3's text being present here is inert until its signatures are
    # appended.  Holding existing fixed makes the second call's memo key
    # differ ONLY in the store fingerprint: if store_fp were dropped from
    # the key, the memo would serve the first decision and this test fails.
    existing_all = corpus0.unionByName(corpus1)
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(corpus0, store, num_hashes=16, shingle_words=3)

    batch = spark.createDataFrame(
        [(10, base + " slightly changed"), (11, "totally novel text about beam search")],
        "doc_id long, text string",
    )
    got1 = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing_all, batch, signature_store=store
        ).collect()
    )
    assert got1 == [11]  # 10 is a near-dup of stored doc 1; 3 not yet stored

    # admit the second corpus slice whose signature makes doc 11 a dup
    dedup.signature_store_write(corpus1, store, num_hashes=16, shingle_words=3)
    # stored rowset == rebuild over the union (append really appended)
    rebuilt = str(tmp_path / "rebuilt")
    dedup.signature_store_write(
        corpus0.unionByName(corpus1), rebuilt, num_hashes=16, shingle_words=3
    )
    a = sorted(
        (r["doc_id"], tuple(r["minhash"]))
        for r in dedup.signature_store_read(spark, store, 16, 3).collect()
    )
    b = sorted(
        (r["doc_id"], tuple(r["minhash"]))
        for r in dedup.signature_store_read(spark, rebuilt, 16, 3).collect()
    )
    assert a == b
    # IDENTICAL (existing, batch) plans, grown store: only store_fp in the
    # memo key changed, and the memo must not serve got1 — doc 11 is now a
    # dup of stored doc 3 (existing covers the store's ids for exact
    # verification, per the contract).
    got2 = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            existing_all, batch, signature_store=store
        ).collect()
    )
    assert got2 == []


# ---------------------------------------------------------------------------
# IVF append-without-retrain (r9, verdict "Next round #4")
# ---------------------------------------------------------------------------


def test_ivf_append_without_retrain_matches_frozen_rebuild(spark, tmp_path):
    """build(n) + append(m) must answer probes identically to build(n+m)
    under the SAME frozen centroids: appending shifts list sizes, never
    list boundaries.  Also pins that the stored rowsets (id, _cluster)
    agree — i.e. the append path's literal-expression assignment matches
    the frozen build's for every row — and that probes after an append
    are still planning-time partition-pruned."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    first = emb.where(F.col("vec_id") % 3 != 0)
    extra = emb.where(F.col("vec_id") % 3 == 0)
    q = emb.where(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    similarity.build_ivf_index(first, a, n_clusters=8)
    similarity.append_ivf_index(extra, a)
    centers = [
        r["center"]
        for r in sorted(
            spark.read.parquet(f"{a}/centroids.parquet").collect(),
            key=lambda r: r["centroid_id"],
        )
    ]
    similarity.build_ivf_index(emb, b, precomputed_centroids=centers)

    # same frozen quantizer on disk
    cb = [
        r["center"]
        for r in sorted(
            spark.read.parquet(f"{b}/centroids.parquet").collect(),
            key=lambda r: r["centroid_id"],
        )
    ]
    assert cb == centers
    # stored rowsets agree row-for-row including assignment
    la = sorted(
        (r["vec_id"], r["_cluster"])
        for r in spark.read.parquet(f"{a}/lists.parquet").collect()
    )
    lb = sorted(
        (r["vec_id"], r["_cluster"])
        for r in spark.read.parquet(f"{b}/lists.parquet").collect()
    )
    assert la == lb and len(la) == emb.count()
    # probe parity
    probed_a = similarity.query_ivf_index(spark, a, q, k=5, n_probe=3)
    ra = sorted(
        (r.query_id, r.vec_id, round(r.score, 9), r.rank) for r in probed_a.collect()
    )
    rb = sorted(
        (r.query_id, r.vec_id, round(r.score, 9), r.rank)
        for r in similarity.query_ivf_index(spark, b, q, k=5, n_probe=3).collect()
    )
    assert ra == rb and len(ra) > 0
    # pruning survives the append (new part-files land INSIDE _cluster dirs)
    plan = probed_a._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "_cluster" in plan


def test_recall_gap_pins_script_protocol(spark, tmp_path):
    """r10 verdict Next #5: similarity.recall_gap must restate the
    ann_scale_evidence --append-drift protocol exactly — approx =
    query_ivf_index at (k, n_probe), exact = cosine_topk_pandas over the
    STORED corpus, per-query recall |approx ∩ exact| / |exact|, mean over
    queries.  Pinned three ways: (a) equals an in-test recall_at_k
    computed from the same two collect()s; (b) probing EVERY list makes
    the index exhaustive, so recall=1.0 and baseline-less gap=0.0;
    (c) baseline_recall plumbs gap = baseline - recall."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = str(tmp_path / "ivf")
    similarity.build_ivf_index(emb, idx, n_clusters=8)
    q = emb.where(F.col("vec_id") < 6).select(
        (F.col("vec_id") + 1_000_000).alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = similarity.recall_gap(spark, idx, q, k=5, n_probe=2)
    # (a) independent restatement from the same operator outputs
    approx = similarity.query_ivf_index(spark, idx, q, k=5, n_probe=2).collect()
    exact = similarity.cosine_topk_pandas(
        q.select(F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")),
        spark.read.parquet(f"{idx}/lists.parquet").select("vec_id", "embedding"),
        k=5,
    ).collect()
    ex_sets: dict = {}
    for r in exact:
        ex_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    ap_sets: dict = {}
    for r in approx:
        ap_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    want = sum(
        len(ap_sets.get(qid, set()) & c) / len(c) for qid, c in ex_sets.items()
    ) / len(ex_sets)
    assert got["recall"] == pytest.approx(want)
    assert got["gap"] == pytest.approx(1.0 - want)
    assert got["n_queries"] == 6 and got["k"] == 5 and got["n_probe"] == 2
    # (b) full probe => exhaustive => exact parity
    full = similarity.recall_gap(spark, idx, q, k=5, n_probe=8)
    assert full["recall"] == pytest.approx(1.0)
    assert full["gap"] == pytest.approx(0.0)
    # (c) baselined gap is the retrain signal
    based = similarity.recall_gap(
        spark, idx, q, k=5, n_probe=2, baseline_recall=full["recall"]
    )
    assert based["recall"] == pytest.approx(got["recall"])
    assert based["gap"] == pytest.approx(1.0 - got["recall"])
    # (d) r11 advisor finding: a holdout with NO measurable query (every
    # exact set empty — here a single-vector store probed by its own id,
    # so the self-exclusion removes the only candidate) must report
    # None/None, never recall=0/gap=1 — a scheduled monitor thresholding
    # gap > 0.05 would read that as catastrophic drift and retrain
    solo = spark.createDataFrame(
        [(7, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    idx_solo = str(tmp_path / "ivf_solo")
    similarity.build_ivf_index(solo, idx_solo, precomputed_centroids=[[0.0, 1.0]])
    empty = similarity.recall_gap(
        spark,
        idx_solo,
        spark.createDataFrame(
            [(7, [0.0, 1.0])], "query_id long, query_vec array<double>"
        ),
        k=5,
        n_probe=1,
        baseline_recall=full["recall"],
    )
    assert empty["recall"] is None and empty["gap"] is None
    assert empty["n_queries"] == 0


def test_pandas_topk_null_id_and_nonfinite_parity(spark):
    """r8 advisor finding, pinned: a NULL-id corpus row arrives in pandas
    as NaN (nullable int -> float64), and NaN != qid is True — so without
    the finiteness mask it could surface in top-k (the replaced SQL
    predicate's NULL semantics dropped it), and its NaN score could make
    the k-th-threshold cut drop every candidate for that query's batch.
    The Arrow tier must match the fold tier exactly with such a row
    present, and never emit a NULL id."""
    rows = [(i, [float((i * 7 + j * 3) % 11) for j in range(8)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    bad = spark.createDataFrame(
        [(None, [float(j) for j in range(8)])],
        "vec_id long, embedding array<double>",
    )
    # ids above 2^53 cannot round-trip through float64: if the NULL row
    # were allowed to reach pandas (forcing the id column to float64),
    # these two distinct ids would alias to the same float and come back
    # corrupted — they score 1.0 against queries 0/1, so they MUST appear
    # in top-k with their exact values
    big = spark.createDataFrame(
        [(2**53 + 1, rows[0][1]), (2**53 + 2, rows[1][1])],
        "vec_id long, embedding array<double>",
    )
    corpus = emb.unionByName(bad).unionByName(big)
    q = emb.where(F.col("vec_id") < 3)
    got = sorted(
        (r.query_id, r.vec_id, round(r.score, 9), r.rank)
        for r in similarity.cosine_topk_pandas(q, corpus, k=5).collect()
    )
    want = sorted(
        (r.query_id, r.vec_id, round(r.score, 9), r.rank)
        for r in similarity.cosine_topk_bruteforce(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            ),
            corpus,
            k=5,
        ).collect()
    )
    assert got == want
    assert len(got) == 15  # 3 queries x k=5 — the NaN row cost nobody a slot
    assert all(v is not None for _, v, _, _ in got)
    surfaced = {v for _, v, _, _ in got}
    assert 2**53 + 1 in surfaced and 2**53 + 2 in surfaced  # exact, unaliased


def test_signature_store_data_without_meta_refuses_append(spark, tmp_path):
    """r9 review finding: an unreadable/missing meta next to EXISTING sig
    rows must refuse the append, not silently bootstrap a new geometry
    beside old-geometry rows (whose signatures would then never collide
    with probes)."""
    import shutil

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(docs, store, num_hashes=16, shingle_words=3)
    shutil.rmtree(f"{store}/meta.parquet")
    with pytest.raises(ValueError, match="data but no readable meta"):
        dedup.signature_store_write(docs, store, num_hashes=16, shingle_words=3)
    # a FRESH path still bootstraps fine
    dedup.signature_store_write(docs, str(tmp_path / "fresh"), num_hashes=16)


def test_band_geometry_rejected_as_valueerror(spark, tmp_path):
    """r9 advice: geometry preconditions must survive `python -O` — a bare
    assert would be stripped and a mis-banded store/gate would silently
    admit every duplicate.  All band-geometry entry points raise
    ValueError, never AssertionError."""
    from bulkfhirloader_spark.streaming.joins import (
        banded_signature_store_write,
        stream_near_dup_admission,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    with pytest.raises(ValueError, match="does not divide"):
        dedup.require_band_geometry(16, 3)
    with pytest.raises(ValueError, match="does not divide"):
        dedup.incremental_near_dup_filter(docs, docs, num_hashes=16, bands=3)
    with pytest.raises(ValueError, match="does not divide"):
        dedup.minhash_near_dup_pairs(docs, num_hashes=16, bands=3)
    with pytest.raises(ValueError, match="does not divide"):
        banded_signature_store_write(
            docs, str(tmp_path / "bst"), num_hashes=16, bands=3
        )
    with pytest.raises(ValueError, match="does not divide"):
        stream_near_dup_admission(docs, docs, num_hashes=16, bands=3)


def test_validate_store_ids_surfaces_orphan_store_rows(spark, tmp_path):
    """r9 advice: a store id absent from `existing` degrades recall with no
    signal (its proposed pairs silently fail exact verification).  The
    opt-in guard must raise with the orphan count; a store that IS a
    subset of `existing` must pass the guard unchanged."""
    docs = spark.createDataFrame(
        [
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (4, "one two three four five six seven eight nine ten"),
            (5, "alpha beta gamma delta epsilon zeta eta theta kappa"),
        ],
        "doc_id long, text string",
    )
    full = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(full, store, num_hashes=16, shingle_words=3)
    # matching corpus: guard passes, admitted set equals the unguarded run
    ok = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            full, batch, signature_store=store, validate_store_ids=True
        ).collect()
    )
    assert ok == sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            full, batch, signature_store=store
        ).collect()
    )
    # drifted corpus: doc 4 lives in the store but not in `existing`
    drifted = full.where(F.col("doc_id") != 4)
    with pytest.raises(ValueError, match="1 store id\\(s\\) absent"):
        dedup.incremental_near_dup_filter(
            drifted, batch, signature_store=store, validate_store_ids=True
        )
    # grown corpus (r10 review: the likelier real drift): doc 6 was
    # admitted to `existing` but its store append never happened — on the
    # stored tier it has NO signature, so its near-dups would be silently
    # admitted; the guard must catch this direction too
    grown = full.unionByName(
        full.sparkSession.createDataFrame(
            [(6, "six seven eight nine ten eleven twelve")],
            "doc_id long, text string",
        )
    )
    with pytest.raises(ValueError, match="1 existing id\\(s\\) absent"):
        dedup.incremental_near_dup_filter(
            grown, batch, signature_store=store, validate_store_ids=True
        )
    # NULL-id rows (r10 advice): the flow never admits them and the store
    # never holds them, but an anti-join treats NULL as never-matching —
    # the guard must NOT raise for a NULL-id row in `existing`
    with_null = full.unionByName(
        full.sparkSession.createDataFrame(
            [(None, "null id row that must not trip the equality guard")],
            "doc_id long, text string",
        )
    )
    nulled = sorted(
        r["doc_id"]
        for r in dedup.incremental_near_dup_filter(
            with_null, batch, signature_store=store, validate_store_ids=True
        ).collect()
    )
    assert nulled == ok


def test_signature_store_custom_id_col_roundtrip(spark, tmp_path):
    """r9 advice: the stored id column is positional semantics — a store
    written under one id name must read back under ANY requested name
    (curated rename, not a raw AnalysisException), and a store whose
    column set isn't (<id>, minhash) must raise a descriptive error."""
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        "key long, body string",
    )
    store = str(tmp_path / "sigstore")
    dedup.signature_store_write(
        docs, store, id_col="key", text_col="body", num_hashes=16
    )
    back = dedup.signature_store_read(
        spark, store, num_hashes=16, shingle_words=3, id_col="other_name"
    )
    assert back.columns == ["other_name", "minhash"]
    assert back.count() == 1
    # corrupt column set -> curated error naming the columns found
    bad = str(tmp_path / "badstore")
    dedup.signature_store_write(docs, bad, id_col="key", text_col="body")
    spark.createDataFrame([(1, 2)], "a long, b long").write.mode(
        "overwrite"
    ).parquet(f"{bad}/sigs")
    with pytest.raises(ValueError, match="corrupt signature store"):
        dedup.signature_store_read(spark, bad, num_hashes=16, shingle_words=3)


# ---------------------------------------------------------------------------
# Deterministic Lloyd k-means + SemDeDup semantic dedup
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def two_lobes(spark):
    """Two tight direction-lobes in R4 whose CENTERS are still cos≈0.7
    similar: ids 1/2 (the k=2 init seeds) land one per lobe; within-lobe
    cosines ≈1, cross-lobe ≈0.7 — above a 0.5 near-dup threshold, so a
    GLOBAL pair scan would emit cross-lobe pairs that the semantic tier
    must exclude by construction."""
    rows = [
        (1, [1.0, 0.02, 0.0, 0.0]),
        (2, [0.7, 0.7, 0.0, 0.0]),
        (3, [0.99, 0.0, 0.01, 0.0]),
        (4, [0.71, 0.69, 0.0, 0.01]),
        (5, [1.0, 0.01, 0.0, 0.01]),
        (6, [0.69, 0.71, 0.01, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_assign_separates_planted_lobes(two_lobes):
    out = {
        r["vec_id"]: r["cluster_id"]
        for r in similarity.kmeans_assign(two_lobes, k=2, n_iter=2).collect()
    }
    assert out[1] == out[3] == out[5]
    assert out[2] == out[4] == out[6]
    assert out[1] != out[2]


def test_kmeans_deterministic_across_runs(two_lobes):
    a = sorted(map(tuple, similarity.kmeans_assign(two_lobes, k=2, n_iter=2).collect()))
    b = sorted(map(tuple, similarity.kmeans_assign(two_lobes, k=2, n_iter=2).collect()))
    assert a == b


def test_kmeans_empty_cluster_drops(spark):
    """k exceeding the number of distinct directions: duplicate-direction
    seeds lose the rounded-argmax tie to the smaller cluster id, so the
    redundant cluster empties and DROPS after the first update (standard
    Lloyd variant) — survivors keep stable ids and every row stays
    assigned."""
    rows = [
        (1, [1.0, 0.0]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.0]),  # k=3 seed identical to seed 1 -> its cluster empties
        (4, [1.0, 0.0]),
        (5, [0.0, 1.0]),
        (6, [0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.kmeans_centroids(emb, k=3, n_iter=2)
    assert cents.count() == 2
    out = similarity.kmeans_assign(emb, k=3, n_iter=2)
    assert out.count() == 6
    assert out.select("cluster_id").distinct().count() == 2


def test_semantic_dedup_excludes_cross_cluster_pairs(two_lobes):
    sem = dedup.semantic_dedup_pairs(two_lobes, k=2, n_iter=2, threshold=0.5)
    pairs = {(r["id_a"], r["id_b"]) for r in sem.collect()}
    # within-lobe pairs only
    assert pairs == {(1, 3), (1, 5), (3, 5), (2, 4), (2, 6), (4, 6)}
    # the exact global tier DOES see cross-lobe pairs at this threshold —
    # the semantic tier's candidate bound is what removed them
    full = dedup.embedding_cosine_pairs(
        two_lobes, threshold=0.5, allow_full_scan=True
    )
    assert full.count() > len(pairs)


def test_semantic_dedup_max_cluster_size_cap(two_lobes):
    """Cap contract mirrors the MinHash band cap: members beyond the cap
    in ascending-id order are excluded from the pair join entirely."""
    sem = dedup.semantic_dedup_pairs(
        two_lobes, k=2, n_iter=2, threshold=0.5, max_cluster_size=2
    )
    pairs = {(r["id_a"], r["id_b"]) for r in sem.collect()}
    assert pairs == {(1, 3), (2, 4)}


def test_semantic_dedup_precomputed_assignments_parity(two_lobes):
    """fit-once/pair-many: passing the fit's own assignments must yield
    the identical pair set as the in-call fit."""
    from bulkfhirloader_spark.operators import similarity as sim

    assigned = sim.kmeans_assign(two_lobes, k=2, n_iter=2).select(
        "vec_id", "cluster_id"
    )
    incall = dedup.semantic_dedup_pairs(two_lobes, k=2, n_iter=2, threshold=0.5)
    pre = dedup.semantic_dedup_pairs(
        two_lobes, threshold=0.5, precomputed_assignments=assigned
    )
    assert sorted(map(tuple, incall.collect())) == sorted(map(tuple, pre.collect()))


def test_kmeans_blas_tier_matches_fold_on_separated(two_lobes):
    """The Arrow/dgemm assignment tier must produce the identical fit and
    assignment as the fold tier away from knife-edge ties (the
    cosine_topk_pandas rank-parity stance: not bit-promised, pinned on
    separated data)."""
    from bulkfhirloader_spark.operators import similarity as sim

    fold = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in sim.kmeans_assign(two_lobes, k=2, n_iter=2).collect()
    )
    blas = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in sim.kmeans_assign(
            two_lobes, k=2, n_iter=2, assign_tier="blas"
        ).collect()
    )
    assert fold == blas


def test_kmeans_blas_assignment_drops_zero_and_null(spark):
    """Zero-norm vectors score NULL in the fold tier ('similar to
    nothing'); the blas tier must drop them rather than emit a NaN
    cluster, and NULL ids must be filtered plan-side."""
    from bulkfhirloader_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 0.0]),       # zero norm -> dropped
            (None, [1.0, 0.0]),    # NULL id -> dropped plan-side
            (4, [0.0, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = sim.kmeans_assign_blas(emb, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])
    got = sorted((r["vec_id"], r["cluster_id"]) for r in out.collect())
    assert got == [(1, 0), (4, 1)]


def test_kmeans_blas_rejects_non_integral_id_up_front(spark):
    """The blas tier coerces ids with astype(np.int64) and declares
    `id long` — a non-integral id must fail with a clear ValueError at
    call time (r16 advisor finding), not an Arrow coercion error inside
    the Python worker."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [("a", [1.0, 0.0])], "vec_id string, embedding array<double>"
    )
    with _pytest.raises(ValueError, match="integral id column"):
        sim.kmeans_assign_blas(emb, [(0, [1.0, 0.0]), (1, [0.0, 1.0])])


def test_kmeans_degenerate_vectors_excluded_both_tiers(spark):
    """Family precondition (r12 review): NULL and all-zero embeddings are
    excluded from fit AND assignment by BOTH tiers — before the explicit
    filter the fold tier silently assigned the zero vector to cluster 0
    (skewing that centroid toward the origin) while the blas tier dropped
    it, and a NULL embedding crashed the blas tier's np.stack."""
    from bulkfhirloader_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 1.0]),
            (3, [0.0, 0.0]),   # zero vector -> excluded everywhere
            (4, None),         # NULL embedding -> excluded everywhere
            (5, [1.0, 0.1]),
        ],
        "vec_id long, embedding array<double>",
    )
    fold = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in sim.kmeans_assign(emb, k=2, n_iter=2).collect()
    )
    blas = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in sim.kmeans_assign(emb, k=2, n_iter=2, assign_tier="blas").collect()
    )
    assert fold == blas == [(1, 0), (2, 1), (5, 0)]
    # centroid of cluster 0 must NOT be dragged toward the origin by row 3
    cents = {
        r["c_label"]: list(r["centroid"])
        for r in sim.kmeans_centroids(emb, k=2, n_iter=2).collect()
    }
    assert cents[0] == [1.0, 0.05]
    # and the pair stage never sees the degenerate rows
    pairs = dedup.semantic_dedup_pairs(emb, k=2, n_iter=2, threshold=0.9)
    ids = {i for r in pairs.collect() for i in (r["id_a"], r["id_b"])}
    assert 3 not in ids and 4 not in ids


def test_kmeans_empty_corpus_both_tiers(spark):
    """r12 advice: an all-degenerate (or empty) corpus yields an empty seed
    list — both tiers must return the empty centroid table instead of the
    blas tier IndexError-ing on cents[0][1] / np.stack of an empty list."""
    from bulkfhirloader_spark.operators import similarity as sim

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None)],
        "vec_id long, embedding array<double>",
    )
    fold = sim.kmeans_centroids(emb, k=2, n_iter=2)
    blas = sim.kmeans_centroids(emb, k=2, n_iter=2, assign_tier="blas")
    assert fold.count() == 0 and blas.count() == 0
    assert fold.schema == blas.schema


def test_kmeans_chained_matches_collected(two_lobes, spark):
    """r13 (r12 verdict #3): the collect-free chained Lloyd tier must
    produce the IDENTICAL fit as the collected tier — same init, same
    rounded-argmax assignment, same rounded update, same dropped-cluster
    behavior — it only changes WHERE the centroids live between
    iterations (executors, not the driver)."""
    from bulkfhirloader_spark.operators import similarity as sim

    collected = sorted(
        (r["c_label"], list(r["centroid"]))
        for r in sim.kmeans_centroids(two_lobes, k=2, n_iter=2).collect()
    )
    chained = sorted(
        (r["c_label"], list(r["centroid"]))
        for r in sim.kmeans_centroids_chained(two_lobes, k=2, n_iter=2).collect()
    )
    assert collected == chained

    # empty-cluster drop parity (the k=3 duplicate-seed fixture)
    rows = [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [1.0, 0.0]),
            (4, [1.0, 0.0]), (5, [0.0, 1.0]), (6, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    a = sorted(
        (r["c_label"], list(r["centroid"]))
        for r in sim.kmeans_centroids(emb, k=3, n_iter=2).collect()
    )
    b = sorted(
        (r["c_label"], list(r["centroid"]))
        for r in sim.kmeans_centroids_chained(emb, k=3, n_iter=2).collect()
    )
    assert a == b and len(b) == 2

    # empty-corpus parity with the r12-advice guard
    degen = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    assert sim.kmeans_centroids_chained(degen, k=2, n_iter=2).count() == 0


def test_semantic_pairs_chained_centroids_match_in_call_fit(spark):
    """r14 (r13 verdict #6): semantic_dedup_pairs fed a DISTRIBUTED
    centroid DataFrame (the chained fit + broadcast assignment — zero
    centroid bytes through the Python driver) must produce identical
    pairs AND survivors to the in-call collected fit; the two
    precomputed modes are mutually exclusive."""
    import pytest as _pytest

    from bulkfhirloader_spark.operators import dedup, similarity as sim

    rows = [
        (i, [1.0, float(i % 7) / 10.0]) for i in range(0, 20, 2)
    ] + [
        (i, [float(i % 5) / 10.0, 1.0]) for i in range(1, 20, 2)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    incall = dedup.semantic_dedup_pairs(emb, k=4, n_iter=2, threshold=0.8)
    cents = sim.kmeans_centroids_chained(emb, k=4, n_iter=2)
    chained = dedup.semantic_dedup_pairs(
        emb, threshold=0.8, precomputed_centroids=cents
    )
    key = lambda r: (r["id_a"], r["id_b"], r["cluster_id"], round(r["cos_sim"], 9))
    a, b = sorted(map(key, incall.collect())), sorted(map(key, chained.collect()))
    assert a == b and len(a) > 0
    surv_a = sorted(map(tuple, dedup.duplicate_clusters(incall).collect()))
    surv_b = sorted(map(tuple, dedup.duplicate_clusters(chained).collect()))
    assert surv_a == surv_b
    with _pytest.raises(ValueError, match="not\\s+both"):
        dedup.semantic_dedup_pairs(
            emb,
            precomputed_assignments=emb.selectExpr(
                "vec_id", "0 as cluster_id"
            ),
            precomputed_centroids=cents,
        )


def test_semantic_pairs_precomputed_centroids_blas_matches_fold(spark):
    """r15 (r14 verdict #1): semantic_dedup_pairs(precomputed_centroids=,
    assign_tier="blas") — the chained-fit → dgemm-assignment → pairs
    deployment pairing — must produce identical pairs AND survivors to
    the fold assignment under the same frozen centroids (separated
    corpus, so the numpy half-even rounding caveat cannot bite)."""
    from bulkfhirloader_spark.operators import dedup, similarity as sim

    rows = [
        (i, [1.0, float(i % 7) / 10.0]) for i in range(0, 20, 2)
    ] + [
        (i, [float(i % 5) / 10.0, 1.0]) for i in range(1, 20, 2)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = sim.kmeans_centroids_chained(emb, k=4, n_iter=2)
    fold = dedup.semantic_dedup_pairs(
        emb, threshold=0.8, precomputed_centroids=cents
    )
    blas = dedup.semantic_dedup_pairs(
        emb, threshold=0.8, precomputed_centroids=cents, assign_tier="blas"
    )
    key = lambda r: (r["id_a"], r["id_b"], r["cluster_id"], round(r["cos_sim"], 9))
    a, b = sorted(map(key, fold.collect())), sorted(map(key, blas.collect()))
    assert a == b and len(a) > 0
    surv_a = sorted(map(tuple, dedup.duplicate_clusters(fold).collect()))
    surv_b = sorted(map(tuple, dedup.duplicate_clusters(blas).collect()))
    assert surv_a == surv_b


def test_kmeans_chained_releases_iteration_checkpoints(two_lobes, spark):
    """r14 (r13 advice): a chained fit must not leave n_iter+1
    checkpointed k×dim tables on executors — after the fit only the
    FINAL returned centroid table may hold checkpoint blocks (at the
    k=50k × d=768 operating point the leak is ~300 MB per fit in
    long-lived sessions)."""
    from bulkfhirloader_spark.operators import similarity as sim

    sc = spark.sparkContext

    def stored_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    before = stored_rdds()
    cents = sim.kmeans_centroids_chained(two_lobes, k=2, n_iter=3)
    cents.count()
    # seed + 3 iterations = 4 checkpoints taken; all but the last freed
    assert stored_rdds() <= before + 1
    reuse.release(cents)
    assert stored_rdds() <= before


def test_pairwise_verify_shingles_computed_once(spark, tmp_path):
    """r16/r17: the pairwise candidates path computes the corpus scan +
    shingle attach ONCE — since r17 behind a ledgered
    persist(MEMORY_AND_DISK) (verdict #3: recomputable after executor
    loss, unlike the r16 localCheckpoint) — instead of re-expanding it
    per pair side: both pair sides read ONE InMemoryRelation, every
    documents scan in the plan sits INSIDE that cached subtree (where
    the r17 pushdown is also finally visible: PushedFilters In(doc_id)),
    and no scan exists outside it.  In the opt-out regime
    (broadcast_candidates=False, candidate set not contractually small)
    the old recompute shape is preserved (the scan appears once per pair
    side).  Pair values identical in both regimes and to the full-scan
    reference."""
    from bulkfhirloader_spark.operators import dedup

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} w{i+1} w{i+2} w{i+3}")
         for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 7)], "id_a long, id_b long"
    )
    ref = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], r["jaccard"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.05, allow_full_scan=True
        ).collect()
        if (r["id_a"], r["id_b"]) in {(0, 1), (2, 3), (4, 7)}
    )

    j = dedup.ngram_jaccard_pairs(docs, candidates=cand, threshold=0.05)
    plan = j._jdf.queryExecution().executedPlan().toString()
    # both pair sides read the ONE persisted attach table; the only
    # documents scans are the cached subtree's own printout (one per
    # InMemoryTableScan reference), each carrying the In(doc_id) pushdown
    assert plan.count("InMemoryTableScan") >= 2, plan
    first_imr = plan.find("InMemoryRelation")
    assert first_imr != -1 and "Scan parquet" not in plan[:first_imr], plan
    assert plan.count("Scan parquet") == plan.count("InMemoryRelation"), plan
    assert "In(doc_id" in plan, plan
    got = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], r["jaccard"]) for r in j.collect()
    )
    assert got == ref

    j_big = dedup.ngram_jaccard_pairs(
        docs, candidates=cand, threshold=0.05, broadcast_candidates=False
    )
    plan_big = j_big._jdf.queryExecution().executedPlan().toString()
    assert plan_big.count("Scan parquet") == 2, plan_big
    got_big = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], r["jaccard"])
        for r in j_big.collect()
    )
    assert got_big == ref
    dedup.release_candidate_checkpoints()


def test_pairwise_verify_candidate_id_scan_pushdown(spark, tmp_path):
    """r16 (guide §6.3): in the broadcast_candidates regime the verify
    tier filters the corpus scan with a literal IN over the candidate doc
    ids — the predicate reaches the parquet reader (PushedFilters:
    In(doc_id, …)) and the broadcast semi join it replaces is gone — so
    at scale the verify reads candidate row groups, not every row's text
    bytes.  Above the pushdown cap (monkeypatched to 1 here) the semi
    join fallback is preserved; string ids render as quoted literals;
    values are identical across all regimes.  The checkpoint is disabled
    inside the white-box plan assertions (it hides the scan behind
    LogicalRDD blocks); the parity runs use the real path."""
    import bulkfhirloader_spark.operators.dedup as dedup

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} w{i+1} w{i+2} w{i+3}")
         for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 7)], "id_a long, id_b long"
    )
    expect = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs, candidates=cand, threshold=0.05, broadcast_candidates=False
        ).collect()
    )
    assert expect, "fixture must produce pairs"

    real_ckpt = reuse.lazy_checkpoint
    reuse.lazy_checkpoint = lambda df: df
    try:
        j = dedup.ngram_jaccard_pairs(docs, candidates=cand, threshold=0.05)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "In(doc_id" in plan, plan
        assert "LeftSemi" not in plan, plan
        got = sorted(
            (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
            for r in j.collect()
        )
        assert got == expect

        # above the cap: the explicit-broadcast semi join fallback
        old_max = dedup._VERIFY_ID_PUSHDOWN_MAX
        dedup._VERIFY_ID_PUSHDOWN_MAX = 1
        try:
            j_fb = dedup.ngram_jaccard_pairs(
                docs, candidates=cand, threshold=0.05
            )
            plan_fb = j_fb._jdf.queryExecution().executedPlan().toString()
            assert "LeftSemi" in plan_fb, plan_fb
            got_fb = sorted(
                (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
                for r in j_fb.collect()
            )
            assert got_fb == expect
        finally:
            dedup._VERIFY_ID_PUSHDOWN_MAX = old_max
    finally:
        reuse.lazy_checkpoint = real_ckpt

    # real path (checkpoint on): same values through the pushdown tier
    j_real = dedup.ngram_jaccard_pairs(docs, candidates=cand, threshold=0.05)
    got_real = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
        for r in j_real.collect()
    )
    assert got_real == expect

    # string ids: quoted literal rendering, identical pairs
    ps = str(tmp_path / "docs_str.parquet")
    spark.createDataFrame(
        [(f"d{i}", f"alpha beta gamma delta w{i} w{i+1} w{i+2} w{i+3}")
         for i in range(12)],
        "doc_id string, text string",
    ).write.parquet(ps)
    docs_s = spark.read.parquet(ps)
    cand_s = spark.createDataFrame(
        [("d0", "d1"), ("d2", "d3")], "id_a string, id_b string"
    )
    got_s = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs_s, candidates=cand_s, threshold=0.05
        ).collect()
    )
    want_s = sorted(
        (r["id_a"], r["id_b"], r["n_inter"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs_s, candidates=cand_s, threshold=0.05,
            broadcast_candidates=False,
        ).collect()
    )
    assert got_s == want_s and got_s
    dedup.release_candidate_checkpoints()


def test_candidate_checkpoint_ledger_and_cc_release(spark):
    """r15 (r14 advice): (1) the candidate-set lazy checkpoints in
    ngram_jaccard_pairs / ngram_containment_pairs / winnow_verified are
    RECORDED and drainable via release_candidate_checkpoints once the
    session is done with the results; (2) the distributed
    connected-components loop frees each superseded round's blocks
    in-loop, leaving at most the final round's table stored."""
    from bulkfhirloader_spark.operators import dedup, text as T

    sc = spark.sparkContext

    def stored_rdds():
        return len(sc._jsc.sc().getRDDStorageInfo())

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} w{i+1} w{i+2} w{i+3}")
         for i in range(12)],
        "doc_id long, text string",
    )
    cand = spark.createDataFrame(
        [(0, 1), (2, 3)], "id_a long, id_b long"
    )
    base_ledger = len(reuse._live_candidate_checkpoints)
    j = dedup.ngram_jaccard_pairs(docs, candidates=cand)
    c = dedup.ngram_containment_pairs(docs, candidates=cand)
    w = T.winnow_verified(docs, candidates=cand)
    for df in (j, c, w):
        df.collect()
    # r16: jaccard additionally ledgers its once-computed shingle attach
    # table (2 entries: candidate set + attach table); containment and
    # winnow_verified still ledger only their candidate sets (winnow's
    # gram table is NOT contractually small — see the note in
    # winnow_verified) → 2 + 1 + 1 = 4
    assert len(reuse._live_candidate_checkpoints) == base_ledger + 4
    before = stored_rdds()
    released = dedup.release_candidate_checkpoints()
    assert released == base_ledger + 4
    assert stored_rdds() <= before
    assert not reuse._live_candidate_checkpoints

    # (2) the distributed CC loop (local_threshold=0 forces it): a chain
    # graph needs several rounds; superseded rounds must not accumulate
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a long, id_b long"
    )
    before_cc = stored_rdds()
    labels = dedup.connected_components(pairs, local_threshold=0)
    labels.collect()
    # final round's checkpoint (and nothing else from the loop) may remain
    assert stored_rdds() <= before_cc + 1

def test_containment_candidate_id_scan_pushdown(spark, tmp_path):
    """r17 (verdict #8): ngram_containment_pairs' candidates mode inherits
    the literal-IN scan pushdown — the bounded candidate-id probe filters
    the corpus scan with PushedFilters: In(doc_id, …) instead of a semi
    join, so at scale the containment scorer reads candidate row groups,
    not every row's text bytes.  Above the cap the semi join fallback is
    preserved; values identical in both regimes."""
    import bulkfhirloader_spark.operators.dedup as dedup

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, f"alpha beta gamma delta w{i} w{i+1} w{i+2} w{i+3}")
         for i in range(12)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    cand = spark.createDataFrame(
        [(0, 1), (2, 3), (4, 7)], "id_a long, id_b long"
    )

    c = dedup.ngram_containment_pairs(docs, candidates=cand, threshold=0.1)
    plan = c._jdf.queryExecution().executedPlan().toString()
    assert "In(doc_id" in plan, plan
    # only the pair-level candidate restrict remains a semi join — the
    # docs-restrict semi join (whose subtree prints once per reference:
    # sizes + both self-join sides) is replaced by the scan pushdown
    n_semi_pushdown = plan.count("LeftSemi")
    assert n_semi_pushdown >= 1, plan
    got = sorted(
        (r["id_a"], r["id_b"], r["n_inter"],
         round(r["cont_a_in_b"], 9), round(r["cont_b_in_a"], 9))
        for r in c.collect()
    )
    assert got, "fixture must produce pairs"

    # above the cap: the semi-join fallback, same values
    old_max = dedup._VERIFY_ID_PUSHDOWN_MAX
    dedup._VERIFY_ID_PUSHDOWN_MAX = 1
    try:
        c_fb = dedup.ngram_containment_pairs(docs, candidates=cand, threshold=0.1)
        plan_fb = c_fb._jdf.queryExecution().executedPlan().toString()
        # the docs-restrict semi join is back (repeated per reference),
        # and the pushdown predicate is gone
        assert plan_fb.count("LeftSemi") > n_semi_pushdown, plan_fb
        assert "In(doc_id" not in plan_fb, plan_fb
        got_fb = sorted(
            (r["id_a"], r["id_b"], r["n_inter"],
             round(r["cont_a_in_b"], 9), round(r["cont_b_in_a"], 9))
            for r in c_fb.collect()
        )
        assert got_fb == got
    finally:
        dedup._VERIFY_ID_PUSHDOWN_MAX = old_max
    dedup.release_candidate_checkpoints()


def test_literal_id_predicate_renders_safely(spark):
    """r16 advisor findings on _literal_id_in_predicate:
    (1) string ids containing a quote/backslash push down ONLY under the
    default parser — under spark.sql.parser.escapedStringLiterals=true
    the rendered escapes would stay verbatim and silently mismatch, so
    the builder refuses (semi-join fallback) there; ids without either
    char render identically under both configs and always push down;
    (2) non-int-renderable values against an integral column return None
    (the old code raised ValueError where the semi join succeeded)."""
    import bulkfhirloader_spark.operators.dedup as dedup

    docs_s = spark.createDataFrame(
        [("it's", "x"), ("a\\b", "y"), ("plain", "z")], "doc_id string, text string"
    )
    tricky = ["it's", "a\\b"]

    # default parser: escapes are unescaped — pushdown must match exactly
    assert spark.conf.get("spark.sql.parser.escapedStringLiterals") == "false"
    pred = dedup._literal_id_in_predicate(docs_s, "doc_id", tricky)
    assert pred is not None
    got = sorted(r["doc_id"] for r in docs_s.where(pred).collect())
    assert got == sorted(tricky)

    # legacy parser: quote/backslash ids must refuse (None); plain ids OK
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        assert dedup._literal_id_in_predicate(docs_s, "doc_id", tricky) is None
        pred_plain = dedup._literal_id_in_predicate(docs_s, "doc_id", ["plain"])
        assert pred_plain is not None
        got_plain = [r["doc_id"] for r in docs_s.where(pred_plain).collect()]
        assert got_plain == ["plain"]
    finally:
        spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")

    # integral column, non-int-renderable candidate ids: None, not a raise
    docs_i = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert dedup._literal_id_in_predicate(docs_i, "doc_id", ["d0", "d1"]) is None
    # int-renderable strings still push down (sorted as strings, cast ok)
    pred_i = dedup._literal_id_in_predicate(docs_i, "doc_id", ["1", "2"])
    assert pred_i is not None
    assert [r["doc_id"] for r in docs_i.where(pred_i).collect()] == [1]


def test_shared_persist_entries_survive_drain(spark):
    """r17 (verdict #3): the shared self-join cuts — capped band table,
    simhash signatures, jaccard shingle-attach — are persist-backed, not
    localCheckpoint-backed: after release_candidate_checkpoints a
    still-held result RECOMPUTES (the r16 checkpoint version failed with
    a missing-block error), and the executed plan still carries ONE
    producing chain (InMemoryRelation under both join sides)."""
    import bulkfhirloader_spark.operators.dedup as dedup

    docs = spark.createDataFrame(
        [(i, ("alpha beta gamma delta " * 3) + f"w{i} w{i+1} w{i+2}")
         for i in range(30)],
        "doc_id long, text string",
    )
    # capped minhash: share=True persists the capped band table
    pairs = dedup.minhash_near_dup_pairs(
        docs, num_hashes=16, bands=4, threshold=0.1, max_bucket_size=8
    )
    first = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    # BOTH self-join sides read the one persisted capped band table (the
    # r16 plan audit flagged the per-side Window-chain rebuild; the
    # InMemoryRelation executes its producing chain exactly once)
    assert plan.count("InMemoryTableScan") >= 2, plan

    # simhash: signature projection persisted
    sim = dedup.simhash_near_dup_pairs(docs, max_hamming=20, band_bits=4)
    sim_first = sorted((r["id_a"], r["id_b"]) for r in sim.collect())

    released = dedup.release_candidate_checkpoints()
    assert released >= 2
    # the drain only unpersisted: both results recompute identically
    assert sorted((r["id_a"], r["id_b"]) for r in pairs.collect()) == first
    assert sorted((r["id_a"], r["id_b"]) for r in sim.collect()) == sim_first
