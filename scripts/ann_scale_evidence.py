"""Measured scaling evidence for the similarity/ANN family (SCALE.md).

Generates deterministic clustered synthetic embeddings (dim 64, 64 true
Gaussian clusters on the unit sphere, seeded numpy) at several corpus
sizes plus a fixed 100-query batch, then times each top-k tier and
measures its recall@10 against the exact bruteforce ground truth:

- ``bruteforce``  — exact cosine, JVM HOF expressions (the correctness tier)
- ``blas``        — exact cosine via the Arrow/BLAS pandas tier
- ``ivf``         — in-session IVF (KMeans train + probe; train time dominates)
- ``stored-ivf``  — build_ivf_index once (timed separately), then probe the
  Hive-partitioned lists with planning-time partition pruning; the query
  cost should be ~flat in corpus size (reads only probed lists)
- ``lsh``         — hyperplane buckets, multi-probe, 4 OR-combined tables

Usage:  python scripts/ann_scale_evidence.py [sizes...]   (default 10k 100k 500k)
Writes corpora/indexes under /tmp/annscale and prints one line per
(size, tier) with wall seconds and mean recall@10.  Single-box local[32]
numbers: the signal is the growth RATE across sizes (and stored-IVF's
flat probe cost), not the absolute seconds.
"""

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

DIM = 64
N_CLUSTERS_TRUE = 64
N_QUERIES = 100
K = 10
OUTDIR = "/tmp/annscale"


def generate(sizes: list[int]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(OUTDIR, exist_ok=True)
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(N_CLUSTERS_TRUE, DIM)).astype(np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def make(n: int, seed: int) -> np.ndarray:
        r = np.random.default_rng(seed)
        assign = r.integers(0, N_CLUSTERS_TRUE, size=n)
        pts = centers[assign] + 0.25 * r.normal(size=(n, DIM)).astype(np.float32)
        return pts.astype(np.float32)

    for n in sizes:
        pts = make(n, seed=n)
        tbl = pa.table(
            {
                "vec_id": pa.array(np.arange(n, dtype=np.int64)),
                "embedding": pa.array(list(pts), type=pa.list_(pa.float32())),
            }
        )
        pq.write_table(tbl, f"{OUTDIR}/emb_{n}.parquet")
    qpts = make(N_QUERIES, seed=7)
    qtbl = pa.table(
        {
            # query ids offset past every corpus id so the self-pair filter
            # in the bruteforce tier never drops a genuine neighbor
            "query_id": pa.array(np.arange(10**9, 10**9 + N_QUERIES, dtype=np.int64)),
            "query_vec": pa.array(list(qpts), type=pa.list_(pa.float32())),
        }
    )
    pq.write_table(qtbl, f"{OUTDIR}/queries.parquet")


def recall_at_k(approx_rows, exact_rows, k: int = K) -> float:
    exact = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx = {}
    for r in approx_rows:
        approx.setdefault(r["query_id"], set()).add(r["vec_id"])
    recs = [
        len(approx.get(q, set()) & cands) / len(cands) for q, cands in exact.items()
    ]
    return sum(recs) / len(recs)


def measure(sizes: list[int]) -> None:
    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.session import get_spark

    spark = get_spark(app_name="ann-scale-evidence")
    tm = time.monotonic
    queries = spark.read.parquet(f"{OUTDIR}/queries.parquet")
    queries.count()

    for n in sizes:
        cands = spark.read.parquet(f"{OUTDIR}/emb_{n}.parquet")
        cands.count()  # warm the scan
        nlist = min(256, max(16, int(n**0.5)))

        # HOF-fold bruteforce is the d<=64 correctness tier; it is linear in
        # n (measured ~0.9 ms/doc for 100 queries) so run it only at the
        # sizes where that is minutes-cheap.  Ground truth for recall is the
        # BLAS tier, which is exact by construction (and measures 1.00
        # against the fold tier wherever both run).
        t_bf, bf_recall = float("nan"), float("nan")
        # the pandas tier projects the query DF with the CORPUS column names
        q_as_corpus = queries.select(
            F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
        )
        t0 = tm()
        blas = sim.cosine_topk_pandas(q_as_corpus, cands, k=K).collect()
        t_blas = tm() - t0
        exact = blas
        if n <= 100_000:
            t0 = tm()
            bf = sim.cosine_topk_bruteforce(queries, cands, k=K).collect()
            t_bf = tm() - t0
            bf_recall = recall_at_k(bf, exact)

        t0 = tm()
        ivf = sim.cosine_topk_ivf(
            queries, cands, k=K, n_clusters=nlist, n_probe=8
        ).collect()
        t_ivf = tm() - t0

        idx_path = f"{OUTDIR}/ivf_{n}"
        shutil.rmtree(idx_path, ignore_errors=True)
        t0 = tm()
        sim.build_ivf_index(cands, idx_path, n_clusters=nlist)
        t_build = tm() - t0
        t0 = tm()
        stored = sim.query_ivf_index(spark, idx_path, queries, k=K, n_probe=8).collect()
        t_stored = tm() - t0

        t0 = tm()
        lsh = sim.cosine_topk_lsh(
            queries, cands, k=K, n_planes=10, n_tables=4, dim=DIM
        ).collect()
        t_lsh = tm() - t0

        print(
            f"n={n:>7d} nlist={nlist:3d} | "
            f"bruteforce={t_bf:5.1f}s({bf_recall:.2f}) blas={t_blas:5.1f}s(1.00) "
            f"ivf={t_ivf:5.1f}s({recall_at_k(ivf, exact):.2f}) "
            f"stored-ivf build={t_build:5.1f}s probe={t_stored:4.1f}s({recall_at_k(stored, exact):.2f}) "
            f"lsh={t_lsh:5.1f}s({recall_at_k(lsh, exact):.2f})",
            flush=True,
        )
    spark.stop()


def measure_lsh_amplification(n: int = 100_000) -> None:
    """Recall@10 / time vs ``n_tables`` at a fixed corpus size — the
    OR-combination amplification curve the LSH docstring promises
    (per-neighbor miss probability decays exponentially in table count)."""
    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.session import get_spark

    spark = get_spark(app_name="ann-lsh-amplification")
    tm = time.monotonic
    queries = spark.read.parquet(f"{OUTDIR}/queries.parquet")
    cands = spark.read.parquet(f"{OUTDIR}/emb_{n}.parquet")
    cands.count()
    q_as_corpus = queries.select(
        F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
    )
    exact = sim.cosine_topk_pandas(q_as_corpus, cands, k=K).collect()
    for n_tables in (1, 2, 4, 8, 16):
        t0 = tm()
        lsh = sim.cosine_topk_lsh(
            queries, cands, k=K, n_planes=10, n_tables=n_tables, dim=DIM
        ).collect()
        print(
            f"n={n} n_planes=10 n_tables={n_tables:2d} "
            f"lsh={tm()-t0:5.1f}s recall={recall_at_k(lsh, exact):.2f}",
            flush=True,
        )
    spark.stop()


def measure_append(n: int = 500_000) -> None:
    """IVF index maintenance at scale: build over 90% of the corpus, append
    the remaining 10% WITHOUT retraining (assign to stored centroids), and
    compare against a frozen-quantizer rebuild over the full corpus — the
    two must answer probes identically (the pytest parity contract, here
    at 100x the fixture size), and the append should cost a fraction of
    the build because it skips KMeans and touches only the new rows."""
    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.session import get_spark

    spark = get_spark(app_name="ann-ivf-append")
    tm = time.monotonic
    queries = spark.read.parquet(f"{OUTDIR}/queries.parquet")
    queries.count()
    cands = spark.read.parquet(f"{OUTDIR}/emb_{n}.parquet")
    cands.count()
    nlist = min(256, max(16, int(n**0.5)))
    first = cands.where("vec_id % 10 != 0")
    extra = cands.where("vec_id % 10 = 0")

    a = f"{OUTDIR}/ivf_app_{n}"
    b = f"{OUTDIR}/ivf_frozen_{n}"
    shutil.rmtree(a, ignore_errors=True)
    shutil.rmtree(b, ignore_errors=True)
    t0 = tm()
    # sampled quantizer — the index-build norm (r8: recall parity at ~1/4
    # the build cost); the append/frozen comparison is unaffected because
    # both sides run under whatever centroids this build produced
    sim.build_ivf_index(first, a, n_clusters=nlist, train_fraction=0.05)
    t_build = tm() - t0
    t0 = tm()
    sim.append_ivf_index(extra, a)
    t_append = tm() - t0
    centers = [
        r["center"]
        for r in sorted(
            spark.read.parquet(f"{a}/centroids.parquet").collect(),
            key=lambda r: r["centroid_id"],
        )
    ]
    t0 = tm()
    sim.build_ivf_index(cands, b, precomputed_centroids=centers)
    t_frozen = tm() - t0
    t0 = tm()
    pa_rows = sim.query_ivf_index(spark, a, queries, k=K, n_probe=8).collect()
    t_probe = tm() - t0
    pb_rows = sim.query_ivf_index(spark, b, queries, k=K, n_probe=8).collect()
    key = lambda r: (r["query_id"], r["rank"], r["vec_id"])  # noqa: E731
    assert sorted(map(key, pa_rows)) == sorted(map(key, pb_rows)), (
        "append/frozen-rebuild probe mismatch"
    )
    print(
        f"n={n} nlist={nlist} | build(90%)={t_build:.1f}s "
        f"append(10%)={t_append:.1f}s frozen_rebuild(100%)={t_frozen:.1f}s "
        f"probe={t_probe:.1f}s — probe parity OK "
        f"({len(pa_rows)} rows)",
        flush=True,
    )
    spark.stop()


def measure_append_drift(n: int = 500_000, m: int = 100_000) -> None:
    """The retrain-threshold curve append_ivf_index's docstring promises
    (r9 verdict, Next round #5): append WITHOUT retraining is exact w.r.t.
    its frozen centroids, but if the appended data DRIFTS away from the
    build-time distribution, those centroids partition the new region
    badly and probe recall on new-data queries decays — this measures how
    fast, so operators get a number ("retrain when recall@10 drops below
    X") instead of prose.

    Protocol per drift magnitude δ: shift every true cluster center by a
    seeded unit direction scaled by δ (cluster noise is 0.25, centers live
    on the unit sphere — δ=0.5 moves a cluster ~2 noise-sigmas, δ=2 into
    effectively new territory); draw m vectors and 100 queries from the
    DRIFTED clusters; append the vectors to a copy of the n-vector base
    index; compare recall@10 (vs exact BLAS over the full n+m corpus, same
    queries) of (a) the appended index under its frozen base-time
    centroids and (b) a fresh KMeans rebuild over all n+m rows, both at
    the same n_probe."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bulkfhirloader_spark.operators import similarity as sim
    from bulkfhirloader_spark.session import get_spark

    spark = get_spark(app_name="ann-ivf-append-drift")
    tm = time.monotonic
    rng = np.random.default_rng(42)
    centers = rng.normal(size=(N_CLUSTERS_TRUE, DIM)).astype(np.float32)
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    drift_dirs = np.random.default_rng(11).normal(size=centers.shape)
    drift_dirs /= np.linalg.norm(drift_dirs, axis=1, keepdims=True)

    cands = spark.read.parquet(f"{OUTDIR}/emb_{n}.parquet")
    cands.count()
    nlist = min(256, max(16, int(n**0.5)))
    base = f"{OUTDIR}/ivf_driftbase_{n}"
    shutil.rmtree(base, ignore_errors=True)
    t0 = tm()
    sim.build_ivf_index(cands, base, n_clusters=nlist, train_fraction=0.05)
    print(f"base build n={n} nlist={nlist}: {tm()-t0:.1f}s", flush=True)

    for delta in (0.0, 0.5, 1.0, 2.0):
        dcenters = (centers + delta * drift_dirs).astype(np.float32)
        r = np.random.default_rng(int(delta * 100) + 3)
        assign = r.integers(0, N_CLUSTERS_TRUE, size=m)
        pts = (dcenters[assign] + 0.25 * r.normal(size=(m, DIM))).astype(np.float32)
        qassign = r.integers(0, N_CLUSTERS_TRUE, size=N_QUERIES)
        qpts = (dcenters[qassign] + 0.25 * r.normal(size=(N_QUERIES, DIM))).astype(
            np.float32
        )
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        np.arange(10_000_000, 10_000_000 + m, dtype=np.int64)
                    ),
                    "embedding": pa.array(list(pts), type=pa.list_(pa.float32())),
                }
            ),
            f"{OUTDIR}/emb_drift.parquet",
        )
        pq.write_table(
            pa.table(
                {
                    "query_id": pa.array(
                        np.arange(10**9, 10**9 + N_QUERIES, dtype=np.int64)
                    ),
                    "query_vec": pa.array(list(qpts), type=pa.list_(pa.float32())),
                }
            ),
            f"{OUTDIR}/queries_drift.parquet",
        )
        extra = spark.read.parquet(f"{OUTDIR}/emb_drift.parquet")
        queries = spark.read.parquet(f"{OUTDIR}/queries_drift.parquet")
        full = cands.unionByName(extra)

        appended = f"{OUTDIR}/ivf_drift_app"
        shutil.rmtree(appended, ignore_errors=True)
        shutil.copytree(base, appended)
        t0 = tm()
        sim.append_ivf_index(extra, appended)
        t_append = tm() - t0

        fresh = f"{OUTDIR}/ivf_drift_fresh"
        shutil.rmtree(fresh, ignore_errors=True)
        t0 = tm()
        sim.build_ivf_index(full, fresh, n_clusters=nlist, train_fraction=0.05)
        t_fresh = tm() - t0

        q_as_corpus = queries.select(
            F.col("query_id").alias("vec_id"), F.col("query_vec").alias("embedding")
        )
        exact = sim.cosine_topk_pandas(q_as_corpus, full, k=K).collect()
        app_rows = sim.query_ivf_index(spark, appended, queries, k=K, n_probe=8).collect()
        fresh_rows = sim.query_ivf_index(spark, fresh, queries, k=K, n_probe=8).collect()
        # can the operator BUY BACK the frozen-centroid recall loss by
        # probing more lists, instead of retraining?  (2x/4x probe cost vs
        # a full KMeans rebuild — the cheaper knob if it closes the gap)
        app16 = sim.query_ivf_index(spark, appended, queries, k=K, n_probe=16).collect()
        app32 = sim.query_ivf_index(spark, appended, queries, k=K, n_probe=32).collect()
        print(
            f"delta={delta:.2f} | append={t_append:5.1f}s "
            f"recall(appended,frozen-centroids)={recall_at_k(app_rows, exact):.3f} "
            f"[n_probe 16: {recall_at_k(app16, exact):.3f}, "
            f"32: {recall_at_k(app32, exact):.3f}] "
            f"vs rebuild={t_fresh:5.1f}s "
            f"recall(fresh-kmeans)={recall_at_k(fresh_rows, exact):.3f} "
            f"(n={n} +m={m}, n_probe=8)",
            flush=True,
        )
    spark.stop()


def measure_serving_restart(n: int = 500_000) -> None:
    """r15 (r14 verdict #2): what a SERVING RESTART costs per
    stream_sim_topk tier at corpus size n — the cached tier pays a full
    repartition+sort+persist fill of the lists table before batch 0 can
    answer; the bucketed-mirror tier pays only a scan (layout satisfies
    the join distribution; zero static-side Exchange, plan-asserted in
    tests).  Times one availableNow drain of the 100-query batch per
    tier from a FRESH gate construction (the restart case), plus the
    one-time mirror derive.  Usage:
    ``python scripts/ann_scale_evidence.py --serving-restart [n]``."""
    import json
    import tempfile

    from bulkfhirloader_spark.operators import similarity
    from bulkfhirloader_spark.session import get_spark
    from bulkfhirloader_spark.streaming.joins import (
        ivf_lists_bucketed_write,
        stream_sim_topk,
    )

    spark = get_spark(app_name="ann-serving-restart", shuffle_partitions=32)
    emb = spark.read.parquet(f"{OUTDIR}/emb_{n}.parquet")
    queries = spark.read.parquet(f"{OUTDIR}/queries.parquet")
    index = f"{OUTDIR}/serving_ivf_{n}"
    if not os.path.exists(index):
        similarity.build_ivf_index(emb, index, n_clusters=64)
    t0 = time.monotonic()
    tbl = ivf_lists_bucketed_write(spark, index, num_buckets=32)
    derive_s = time.monotonic() - t0
    src = tempfile.mkdtemp(prefix="ann_serving_")
    queries.coalesce(1).write.parquet(f"{src}/in/f0")
    schema = spark.read.parquet(f"{src}/in/f0").schema

    def drain(bucketed: bool, tag: str) -> tuple[float, int]:
        if bucketed:
            # simulate the cluster restart: a fresh catalog must
            # re-attach the mirror itself
            if spark.catalog.tableExists(tbl):
                spark.sql(f"DROP TABLE `{tbl}`")
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(f"{src}/in/*")
        )
        t0 = time.monotonic()
        q = (
            stream_sim_topk(
                stream, index, k=K, n_probe=8, bucketed_lists=bucketed
            )
            .writeStream.format("memory")
            .queryName(f"serving_{tag}")
            .outputMode("update")
            .option("checkpointLocation", f"{src}/ckpt_{tag}")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table(f"serving_{tag}").count()
        return time.monotonic() - t0, rows

    cached_s, cached_rows = drain(False, "cached")
    bucketed_s, bucketed_rows = drain(True, "bucketed")
    if cached_rows != bucketed_rows:
        raise AssertionError((cached_rows, bucketed_rows))
    print(
        json.dumps(
            {
                "n": n,
                "n_queries": N_QUERIES,
                "mirror_derive_s": round(derive_s, 1),
                "restart_drain_cached_s": round(cached_s, 1),
                "restart_drain_bucketed_s": round(bucketed_s, 1),
                "rows": cached_rows,
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    if sys.argv[1:2] == ["--serving-restart"]:
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
        if not os.path.exists(f"{OUTDIR}/emb_{n}.parquet"):
            generate([n])
        measure_serving_restart(n)
    elif sys.argv[1:2] == ["--lsh-amplification"]:
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 100_000
        if not os.path.exists(f"{OUTDIR}/emb_{n}.parquet"):
            generate([n])
        measure_lsh_amplification(n)
    elif sys.argv[1:2] == ["--append"]:
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
        if not os.path.exists(f"{OUTDIR}/emb_{n}.parquet"):
            generate([n])
        measure_append(n)
    elif sys.argv[1:2] == ["--append-drift"]:
        n = int(sys.argv[2]) if len(sys.argv) > 2 else 500_000
        if not os.path.exists(f"{OUTDIR}/emb_{n}.parquet"):
            generate([n])
        measure_append_drift(n)
    else:
        sizes = [int(s) for s in sys.argv[1:]] or [10_000, 100_000, 500_000]
        generate(sizes)
        measure(sizes)
