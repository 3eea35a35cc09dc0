"""Watermarked stream-stream joins — the join surface Structured Streaming
adds beyond batch (the reference has no streaming at all, SURVEY §2.8).

A stream-stream inner join must bound BOTH sides' state or it buffers the
streams forever.  The interval form does it with watermarks plus an
event-time range condition: left rows can stop waiting once the watermark
passes their timestamp; right rows are evicted once the watermark passes
``right_ts + lookback`` (no future left row can reach back that far).
State is therefore O(events inside one lookback window per key), not
O(stream length) — the property that lets an always-on pipeline run this
join indefinitely.

The admission gates below (MinHash, semantic, winnow, perceptual image,
and the composed pipeline) are one plan shape, written once: each family
supplies a *screen* (``_minhash_screen``, ``_semantic_screen``,
``_winnow_screen``, ``_image_screen``: stream rows, static rows, join keys,
verify predicate, optional hot-key cap) and ``_gate`` / ``_probe`` build the
stream-static join, the static-side cache and the per-arrival admission
(the contract is on ``_gate``).  Their stored static sides, and the
streaming IVF prober's, live in stores whose layout, meta lifecycle and
refusals are in sources/stores.py; this module keeps each store's row
projection and the functions that name it (``*_store_write``,
``*_store_read``, ``register_*_table``).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.fsutil import fs_path_exists
from bulkfhirloader_spark.sources.stores import (
    BANDED,
    IMAGE_HASH,
    IVF_LISTS,
    SEMANTIC,
    WINNOW,
)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "p_ts",
    lookback_seconds: int = 1800,
    watermark_seconds: int | None = None,
) -> DataFrame:
    """Inner stream-stream interval join: each left event pairs with the
    same key's right events in ``[left_ts - lookback, left_ts]`` (e.g.
    every click joined to the purchases it may have driven).

    Column names other than ``on`` must be disjoint between the two inputs
    (rename before calling); ``left_ts`` / ``right_ts`` are the event-time
    columns and get the watermarks.

    Determinism: an inner interval join is a pure SET of pairs — unlike
    ordinal tagging, arrival order cannot change its value, only state
    eviction can (a match lost because one side was evicted early).  On
    in-order replay (time-range-chunked files) no match is ever evicted
    before its partner arrives for ANY watermark delay >= 0, because the
    micro-batch watermark lags one batch: a right row within lookback of a
    next-chunk left row is by construction newer than
    ``watermark - lookback``.  So the output equals the batch inequality
    join exactly, while the watermark still bounds state for the unbounded
    case.
    """
    if watermark_seconds is None:
        watermark_seconds = lookback_seconds
    wl = left.withWatermark(left_ts, f"{watermark_seconds} seconds")
    wr = right.withWatermark(right_ts, f"{watermark_seconds} seconds")
    wr = wr.withColumnRenamed(on, "_r_key")
    cond = (
        (F.col(on) == F.col("_r_key"))
        & (
            F.col(right_ts)
            >= F.col(left_ts) - F.expr(f"INTERVAL {int(lookback_seconds)} SECONDS")
        )
        & (F.col(right_ts) <= F.col(left_ts))
    )
    return wl.join(wr, cond, "inner").drop("_r_key")


def _cached(ledger: list, df: DataFrame, bucketed: bool, *keys: str) -> DataFrame:
    """A static side persisted for repeat micro-batches and kept in
    ``ledger`` (reuse.keep); unless ``bucketed``, cached already
    partitioned and sorted on the join ``keys`` (the static-side cache
    contract, see _gate)."""
    if not bucketed:
        df = df.repartition(*[F.col(k) for k in keys]).sortWithinPartitions(*keys)
    return reuse.keep(ledger, df.persist())


# One ledger per gate kind, plus the IVF prober's: each holds the cached
# static side(s) of the kind's one live gate, released by reuse.evict when
# the next gate of the kind is built (_gate).
_live_static_band_caches: list = []
_live_static_sem_caches: list = []
_live_static_winnow_caches: list = []
_live_static_img_caches: list = []
_live_static_pipeline_caches: list = []
_live_static_ivf_caches: list = []


class _Screen(NamedTuple):
    """One family's half of a gate.  ``stream`` and ``static`` rows carry
    the arrival / corpus id as ``id_s`` / ``id_e`` plus the join ``keys``;
    ``verify`` is the join's extra predicate (None: key equality decides);
    ``bucketed`` says the static side is a bucketed store scan; ``cap``
    drops static rows whose key group holds more than ``cap`` rows."""

    stream: DataFrame
    static: DataFrame
    keys: tuple
    verify: Column | None = None
    bucketed: bool = False
    cap: int | None = None


def _from_store(given: tuple, store: str | None, kw: str, src: tuple) -> bool:
    """True when a screen's static side comes from ``store`` (the ``kw=``
    path), False when from the ``given`` arguments.  ``src`` is (caller
    label, name of the given arguments, whether passing both is refused);
    a static side from neither is always refused."""
    who, names, exclusive = src
    if store is None:
        if any(g is None for g in given):
            raise ValueError(f"{who} needs either {names} or a `{kw}=` path")
        return False
    if exclusive and any(g is not None for g in given):
        raise ValueError(
            f"{kw} carries its own static side — pass either the store "
            f"path or {names}, not both"
        )
    return True


def _probe(ledger: list, sc: _Screen, how: str) -> DataFrame:
    """``sc``'s stream side joined (``how``) to its capped, cached static
    side on key equality, ``id_s != id_e`` and the verify predicate."""
    from bulkfhirloader_spark.operators.dedup import _drop_hot_keys

    static = sc.static
    if sc.cap is not None:
        static = _drop_hot_keys(static, sc.keys, sc.cap)
    static = _cached(ledger, static, sc.bucketed and sc.cap is None, *sc.keys)
    cond = F.col("id_s") != F.col("id_e")
    for k in sc.keys:
        cond = (sc.stream[k] == static[k]) & cond
    if sc.verify is not None:
        cond = cond & sc.verify
    return sc.stream.join(static, cond, how)


def _gate(ledger: list, sc: _Screen, id_col: str, all_rows=None) -> DataFrame:
    """The admission gate every ``stream_*_admission`` builds: arrivals
    with NO verified near-duplicate in a STATIC corpus, as a stream-static
    join.

    Plan shape: the stream side is a pure projection of each arrival into
    its key rows (streaming-legal: no shuffle, no state), LEFT ANTI joined
    to the static side on the keys, with the family's exact verification
    as an extra join predicate — keys propose, the join condition
    verifies, no Python touches a row.  A key row survives iff it produced
    no verified match.  With ``all_rows`` (the arrival's row count as an
    aggregate Column) an arrival is admitted iff ALL its rows survive:
    one count per arrival, complete within the batch because an arrival's
    rows live in one micro-batch; run in update mode.  The join itself is
    stateless; only that count keeps O(1) state per arrival seen.  Without
    ``all_rows`` (one row per arrival) the surviving rows are returned.

    Static-side cache: built once, capped first if the screen caps, then
    persisted (_cached).  A bucketed store's layout already satisfies the
    join's static-side distribution (InMemoryRelation keeps the bucketed
    child's partitioning), so batch 0 pays only a scan and the plan has no
    static-side Exchange (plan-asserted in tests/test_plans.py).  Any other
    static side — derived, plain-stored or capped — is cached already
    partitioned and sorted on the keys: the join re-plans per micro-batch,
    and a plain persist would re-shuffle the whole static side every batch
    (measured ~150 s/batch at a 2M-doc banded store against <= 13 s for the
    scan, SCALE.md round 11); with the repartition inside the cache only
    the batch-sized stream side shuffles.  The fill costs ~4 uncached
    batches; a cache dies with the session, the bucketed layout does not.
    A stored static side is a snapshot taken at gate construction.

    ONE LIVE GATE PER DRIVER per gate kind, a deliberate memory bound:
    each kind has its own module-level ledger, and a new gate releases the
    previous one of its kind only (reuse.evict, under the shared reuse
    lock), after its arguments validated (the screens raise before this
    runs), so a failed construction evicts nothing.  A running gate whose
    cache was evicted still admits correctly but re-derives or re-scans
    its static side every micro-batch.  Run concurrent gates of one kind
    from separate driver processes, or over bucketed stores, where
    eviction costs only the re-scan."""
    reuse.evict(ledger)
    surviving = _probe(ledger, sc, "left_anti")
    if all_rows is None:
        return surviving
    return (
        surviving.groupBy(F.col("id_s").alias(id_col))
        .agg((F.count(F.lit(1)) == all_rows).alias("_all"))
        .where("_all")
        .select(id_col)
    )


def banded_signature_store_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    mode: str = "append",
    num_buckets: int | None = None,
) -> None:
    """Persist the banded signature table the streaming admission gate's
    static side reads: ``(id, band_idx, band_hash, shingles)`` rows at
    ``<path>/bands``, bucketed on ``band_hash`` with ``num_buckets=<n>``.
    Unlike the batch operator's store (dedup.signature_store_write,
    minhash arrays only) it carries the shingle sets, because the gate
    verifies exact Jaccard inside the join condition: storage is
    ~text-sized × bands, the price of exact verification with no
    stream-side lookback.  Bands are pre-projected, so all of
    (num_hashes, bands, shingle_words) is geometry.  Layout, meta
    lifecycle and refusals: the family contract in sources.stores."""
    from bulkfhirloader_spark.operators.dedup import require_band_geometry

    require_band_geometry(num_hashes, bands)
    rows = _minhash_bands(
        docs, id_col, text_col, num_hashes, bands, shingle_words
    ).withColumnRenamed("sh", "shingles")
    with BANDED.writing(
        docs.sparkSession, path, mode, (num_hashes, bands, shingle_words),
        (num_buckets,),
    ) as save:
        save(rows)


def _minhash_bands(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    shingle_words: int,
    sfx: str = "",
) -> DataFrame:
    """``(id{sfx}, band_idx, band_hash, sh{sfx})``: one row per MinHash
    band of each doc, carrying its shingle set — the banded store's rows
    and both sides of the MinHash gates.  ONE projection yields shingles
    AND signature: a sigs-join-shingles shape would be a stream-stream
    self join on a stream side; chained projections keep it stateless."""
    from bulkfhirloader_spark.operators.dedup import (
        band_hash_array,
        minhash_sig_expr,
        word_shingles,
    )

    with_sh = docs.select(
        F.col(id_col).alias(f"id{sfx}"),
        word_shingles(F.col(text_col), shingle_words).alias(f"sh{sfx}"),
    )
    with_sig = with_sh.withColumn(
        "_minhash", minhash_sig_expr(F.col(f"sh{sfx}"), num_hashes)
    )
    band_cols = F.posexplode(
        band_hash_array("_minhash", bands, num_hashes)
    ).alias("band_idx", "band_hash")
    return with_sig.select(f"id{sfx}", band_cols, f"sh{sfx}")


register_banded_table = BANDED.register


def banded_signature_store_read(
    spark, path: str, num_hashes: int, bands: int, shingle_words: int
) -> tuple[DataFrame, bool]:
    """(rows, is_bucketed) of the banded store at ``path``."""
    return BANDED.read(spark, path, (num_hashes, bands, shingle_words))


def _minhash_screen(
    stream: DataFrame, existing, store, src: tuple, id_col: str,
    text_col: str, num_hashes: int, bands: int, shingle_words: int,
    threshold: float,
) -> _Screen:
    """MinHash band rows carrying their shingle sets, keyed on
    ``band_hash`` and verified by exact n-gram Jaccard >= ``threshold``.

    The key is band_hash ALONE: each band's hash is xxhash64(band_idx, sig
    slice...), the band index inside the preimage (dedup.band_hash_array),
    so hash equality IS band equality up to a 2^-64 cross-band collision,
    which can only propose an extra pair for the exact verify to reject.
    One key matters physically: the bucketed store is bucketBy(band_hash),
    and Spark plans an Exchange-free bucketed join only when the equi-keys
    equal the bucket columns."""
    from bulkfhirloader_spark.operators.dedup import require_band_geometry

    require_band_geometry(num_hashes, bands)

    def banded(docs: DataFrame, sfx: str) -> DataFrame:
        geo = (num_hashes, bands, shingle_words, sfx)
        return _minhash_bands(docs, id_col, text_col, *geo).drop("band_idx")

    bucketed = False
    if _from_store((existing,), store, "banded_store", src):
        rows, bucketed = banded_signature_store_read(
            stream.sparkSession, store, num_hashes, bands, shingle_words
        )
        static = rows.select(
            F.col("id").alias("id_e"), "band_hash", F.col("shingles").alias("sh_e")
        )
    else:
        static = banded(existing, "_e")
    inter = F.size(F.array_intersect(F.col("sh_s"), F.col("sh_e")))
    union = F.size("sh_s") + F.size("sh_e") - inter
    verify = (inter.cast("double") / union.cast("double")) >= F.lit(threshold)
    return _Screen(banded(stream, "_s"), static, ("band_hash",), verify, bucketed)


def stream_near_dup_admission(
    stream_docs: DataFrame,
    existing: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    threshold: float = 0.5,
    banded_store: str | None = None,
) -> DataFrame:
    """Streaming twin of dedup.incremental_near_dup_filter's first rule:
    admit arriving docs that have NO exact-verified near-dup (n-gram
    Jaccard >= threshold) in a STATIC existing corpus — the always-on
    crawl-ingest gate (plan, cache and state contract: _gate; keys and
    verify: _minhash_screen).  A doc is admitted iff all ``bands`` of its
    band rows survive.

    ``banded_store=<path>`` (banded_signature_store_write) makes the
    static side a scan of the stored pre-banded table instead of
    re-deriving it from ``existing``'s text (``existing`` must then be
    omitted); admissions are identical either way (pytest-pinned).
    New-new (intra-stream) near-dup admission needs cross-batch signature
    state — that is the batch operator's clustering job; compose with
    streaming_exact_dedup for exact intra-stream dups.

    Recall contract: admission errs only where banding misses a true pair
    (same geometry argument as dedup_minhash_pairs — measured exact at
    sf0.001/0.01/0.1)."""
    sc = _minhash_screen(
        stream_docs, existing, banded_store,
        ("stream_near_dup_admission", "an `existing` corpus", True),
        id_col, text_col, num_hashes, bands, shingle_words, threshold,
    )
    return _gate(_live_static_band_caches, sc, id_col, F.lit(bands))


def _semantic_assigned(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    round_dp: int,
    sfx: str,
) -> DataFrame:
    """The ONE assignment projection both the semantic gate's sides and
    the semantic store's writer share (so store rows and gate rows can
    never diverge): drop degenerate vectors (family precondition), cast
    to array<double>, hoist the l2 norm as a sibling column, assign the
    FROZEN centroid set as a literal expression
    (similarity.cosine_cluster_exprs — stateless, streaming-legal, exact
    rounding parity with the batch tier).  Output columns: ``id{sfx}``,
    ``v{sfx}``, ``n{sfx}``, ``cluster_id``.

    NULL ids are dropped plan-side, matching _semantic_assigned_blas
    (r13 advice): a NULL-id row written into a semantic store would
    silently never screen anything — the gate's ``id_s != id_e``
    predicate evaluates NULL → no match in the anti join — and
    fold-vs-blas store parity would diverge on NULL-id corpora."""
    from bulkfhirloader_spark.operators.similarity import (
        _drop_degenerate_vectors,
        cosine_cluster_exprs,
        l2_norm,
    )

    df = _drop_degenerate_vectors(df, vec_col).where(F.col(id_col).isNotNull())
    base = df.select(
        F.col(id_col).alias(f"id{sfx}"),
        F.col(vec_col).cast("array<double>").alias(f"v{sfx}"),
    ).withColumn(f"n{sfx}", l2_norm(F.col(f"v{sfx}")))
    e = cosine_cluster_exprs(
        F.col(f"v{sfx}"), cents, round_dp=round_dp, vec_norm=F.col(f"n{sfx}")
    )
    return base.withColumn("cluster_id", e["cluster_id"])


def _semantic_assigned_blas(
    df: DataFrame,
    cents: list[tuple[int, list[float]]],
    id_col: str,
    vec_col: str,
    round_dp: int,
    sfx: str,
) -> DataFrame:
    """BLAS/Arrow twin of _semantic_assigned (r13) — the gate's STREAM
    side and the store writer's tier at large k: one dgemm per Arrow
    micro-batch instead of a k × dim literal expression tree per row (at
    k=5000 that tree is ~80k nodes per evaluation site, and its py4j
    construction alone takes minutes, SCALE.md r13).  mapInPandas is
    stateless and streaming-legal.

    Parity contract: only the ARGMAX comes from numpy; the emitted vector
    is the same float64 the fold tier casts to and the l2 norm is hoisted
    JVM-side afterwards, so the exact-cosine verify is bit-identical to
    the fold tier's.  The assignment carries the kmeans_assign_blas caveat
    (numpy half-even rounding vs the fold's HALF_UP, knife-edge; ties go
    to the smallest cluster id in both).  NULL ids and degenerate vectors
    are dropped plan-side like the fold tier."""
    import numpy as np
    import pandas as pd

    from bulkfhirloader_spark.operators.similarity import (
        _blas_centroid_broadcast,
        _drop_degenerate_vectors,
        l2_norm,
    )

    bc = _blas_centroid_broadcast(df.sparkSession, cents)

    def assign(batches):
        cids, Cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(X, axis=1)
            ok = xn > 0
            if not ok.any():
                continue
            X, ids, xn = X[ok], pdf[id_col].to_numpy()[ok], xn[ok]
            S = np.round((X / xn[:, None]) @ Cn.T, round_dp)
            best = np.argmax(S, axis=1)
            yield pd.DataFrame(
                {
                    f"id{sfx}": ids.astype(np.int64),
                    f"v{sfx}": list(X),
                    "cluster_id": cids[best].astype(np.int32),
                }
            )

    out = (
        _drop_degenerate_vectors(
            df.select(
                F.col(id_col), F.col(vec_col).cast("array<double>").alias(vec_col)
            ),
            vec_col,
        )
        .where(F.col(id_col).isNotNull())
        .mapInPandas(
            assign, f"id{sfx} long, v{sfx} array<double>, cluster_id int"
        )
    )
    return out.withColumn(f"n{sfx}", l2_norm(F.col(f"v{sfx}")))


def _assigner(assign_tier: str):
    """The assignment projection of ``assign_tier``: "fold" (the literal
    expression tree) or "blas" (the Arrow/dgemm pass)."""
    tiers = {"fold": _semantic_assigned, "blas": _semantic_assigned_blas}
    if assign_tier not in tiers:
        raise ValueError(
            f"assign_tier must be 'fold' or 'blas', got {assign_tier!r}"
        )
    return tiers[assign_tier]


def _centroid_fingerprint(cents: list[tuple[int, list[float]]]) -> str:
    """Deterministic sha256 of a frozen centroid fit — the semantic
    store's geometry analog of the banded store's (num_hashes, bands)
    tuple: appended rows assigned under a DIFFERENT fit would silently
    sit in the wrong cluster partitions and never meet their probes, so
    fit identity is validated as hard as band geometry.  repr of the
    sorted (cid, [float components]) list is canonical here because the
    fit's own contract already rounds every component to round_dp."""
    import hashlib

    canon = repr(sorted((int(c), [float(x) for x in v]) for c, v in cents))
    return hashlib.sha256(canon.encode("utf-8")).hexdigest()


def _normalize_centroids(centroids) -> list[tuple[int, list[float]]]:
    """``centroids`` as a sorted, non-empty [(cid, vec)] list from either
    a (c_label, centroid) DataFrame or an already-collected list."""
    if hasattr(centroids, "collect"):
        centroids = [(r["c_label"], r["centroid"]) for r in centroids.collect()]
    cents = sorted((int(c), list(v)) for c, v in centroids)
    if not cents:
        raise ValueError("a frozen centroid fit needs >= 1 centroid")
    return cents


def semantic_store_write(
    emb: DataFrame,
    path: str,
    centroids=None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    mode: str = "append",
    num_buckets: int | None = None,
    assign_tier: str = "fold",
) -> None:
    """Persist the assigned static corpus the streaming semantic gate
    reads: ``(cluster_id, id, vec, norm)`` rows at ``<path>/vectors``
    (bucketed on ``cluster_id``), plus the frozen fit itself at
    ``<path>/centroids.parquet``.  The gate's stream side evaluates the
    stored fit, so it can never pair another fit with the stored
    assignments.  The store pays the assignment once at write time; a gate
    restart pays a scan instead of the per-session assign + cache fill
    (46 s at 500k vectors, SCALE.md r12).

    FROZEN FIT: ``centroids`` (a (c_label, centroid) DataFrame or
    [(cid, vec)] list) is required at creation and optional on append,
    where rows are assigned under the stored fit.  Centroids passed on
    append must fingerprint-match the stored fit (``fit mismatch``
    otherwise): rows assigned under a re-fit would sit in the wrong
    cluster partitions and never meet their probes.  A re-fit is a
    rebuild (mode="overwrite"), then a gate restart.

    ``assign_tier="blas"`` assigns with the Arrow/dgemm pass instead of
    the k × dim literal expression tree, which is required in practice at
    large k (SCALE.md r13).  It is write-time provenance, not geometry:
    appends may mix tiers, safe exactly as far as the tiers agree (the
    kmeans_assign_blas half-even rounding caveat).  Layout, meta lifecycle
    and refusals: the family contract in sources.stores."""
    assign_fn = _assigner(assign_tier)
    spark = emb.sparkSession
    cents_path = f"{path}/centroids.parquet"
    cents = _normalize_centroids(centroids) if centroids is not None else None
    if cents is None:
        if mode == "overwrite" or not fs_path_exists(spark, f"{path}/meta.parquet"):
            raise ValueError(
                "semantic_store_write needs the frozen `centroids` fit at "
                "store creation (append to an existing store may omit it — "
                "rows are then assigned under the stored fit)"
            )
        cents = _normalize_centroids(spark.read.parquet(cents_path))
    sha = _centroid_fingerprint(cents)
    assigned = assign_fn(emb, cents, id_col, vec_col, round_dp, "").select(
        "cluster_id",
        F.col("id").cast("long").alias("id"),
        F.col("v").alias("vec"),
        F.col("n").alias("norm"),
    )
    geometry = (round_dp, len(cents), len(cents[0][1]), sha)
    with SEMANTIC.writing(
        spark, path, mode, geometry, (num_buckets,), check=_fit_check(sha, path)
    ) as save:
        # the fit rides the store: written on create and overwrite, never
        # on append (the check just proved it unchanged)
        write_cents = mode == "overwrite" or not fs_path_exists(spark, cents_path)
        save(assigned)
        if write_cents:
            spark.createDataFrame(
                cents, "c_label INT, centroid ARRAY<DOUBLE>"
            ).coalesce(1).write.mode("overwrite").parquet(cents_path)


def _fit_check(sha: str, path: str):
    """The semantic store's own meta check: the stored fit is ``sha``."""

    def check(m) -> None:
        if m["centroid_sha"] != sha:
            raise ValueError(
                f"semantic store fit mismatch at {path}: the store was "
                f"assigned under a different frozen centroid fit (stored sha "
                f"{m['centroid_sha'][:12]}…, caller's {sha[:12]}…) — rows "
                f"assigned under a re-fit would sit in the wrong cluster "
                f"partitions and never meet their probes.  A re-fit means a "
                f"rebuild (mode='overwrite'), then a gate restart"
            )

    return check


register_semantic_table = SEMANTIC.register


def semantic_store_read(
    spark, path: str, round_dp: int = 6
) -> tuple[DataFrame, list[tuple[int, list[float]]], bool]:
    """(vectors, frozen centroid fit, is_bucketed) of the semantic store at
    ``path``; vectors are the assigned (cluster_id, id, vec, norm) rows."""
    cents = _normalize_centroids(spark.read.parquet(f"{path}/centroids.parquet"))
    sha = _centroid_fingerprint(cents)
    rows, bucketed = SEMANTIC.read(
        spark, path, (round_dp, len(cents), len(cents[0][1]), sha),
        _fit_check(sha, path),
    )
    return rows, cents, bucketed


def _semantic_screen(
    stream: DataFrame, existing, centroids, store, src: tuple, id_col: str,
    vec_col: str, round_dp: int, threshold: float, assign_tier: str = "fold",
) -> _Screen:
    """One row per vector, keyed on its ``cluster_id`` under a FROZEN
    centroid fit and verified by exact cosine >= ``threshold`` over the
    hoisted per-vector norms.  The static side is the store's pre-assigned
    rows (the fit comes from the store) or ``existing`` assigned under
    ``centroids``; the stream side is assigned by ``assign_tier``."""
    from bulkfhirloader_spark.operators.similarity import cosine_with_norms

    assign_fn = _assigner(assign_tier)
    bucketed = False
    if _from_store((existing, centroids), store, "semantic_store", src):
        rows, cents, bucketed = semantic_store_read(
            stream.sparkSession, store, round_dp
        )
        static = rows.withColumnsRenamed({"id": "id_e", "vec": "v_e", "norm": "n_e"})
    else:
        cents = _normalize_centroids(centroids)
        static = _semantic_assigned(existing, cents, id_col, vec_col, round_dp, "_e")
    cos = cosine_with_norms(F.col("v_s"), F.col("v_e"), F.col("n_s"), F.col("n_e"))
    return _Screen(
        assign_fn(stream, cents, id_col, vec_col, round_dp, "_s"), static,
        ("cluster_id",), cos >= F.lit(threshold), bucketed,
    )


def stream_semantic_admission(
    stream_emb: DataFrame,
    existing: DataFrame | None = None,
    centroids=None,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    semantic_store: str | None = None,
    assign_tier: str = "fold",
) -> DataFrame:
    """Streaming twin of dedup.semantic_dedup_pairs' admission reading:
    admit arriving embeddings that have NO semantic near-dup
    (cosine >= ``threshold``) among the EXISTING corpus members of their
    k-means cluster, as ``(id_col, cluster_id)`` rows (plan and cache
    contract: _gate; one row per vector, so no count and no state).

    ``centroids`` is a PRE-FIT ``(c_label, centroid)`` DataFrame
    (similarity.kmeans_centroids) or ``[(cid, vec), ...]`` list, baked
    into BOTH sides' assignment as a literal expression with the broadcast
    tier's exact rounding, so admissions equal the batch operator's on the
    same snapshot (pytest-pinned); restart the gate to pick up a re-fit.
    Recall: cross-cluster near-dups are unscreened by design (the SemDeDup
    trade, as in the batch tier); k must grow with the corpus.

    STORED TIER: ``semantic_store=<path>`` (semantic_store_write) makes
    the static side a scan of the pre-assigned store, and the fit comes
    from the store too, so ``existing`` and ``centroids`` must be omitted:
    the stream side never evaluates another fit than the stored rows'.

    ``assign_tier="blas"`` (r13) assigns the STREAM side with an
    Arrow/dgemm pass instead of the k × dim literal tree, the
    marginal-batch floor at large k (SCALE.md r13).  The cosine verify
    stays bit-identical; only the argmax carries the kmeans_assign_blas
    half-even-rounding caveat (admissions pytest-pinned equal to fold).
    The derived static side assigns fold; stored rows keep their tier."""
    sc = _semantic_screen(
        stream_emb, existing, centroids, semantic_store,
        ("stream_semantic_admission", "(existing, centroids)", True),
        id_col, vec_col, round_dp, threshold, assign_tier,
    )
    return _gate(_live_static_sem_caches, sc, id_col).select(
        F.col("id_s").alias(id_col), "cluster_id"
    )


def stream_sim_topk(
    stream_queries: DataFrame,
    index_path: str,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
    bucketed_lists: bool = False,
) -> DataFrame:
    """Streaming top-k similarity over a STORED IVF index (r14) — the
    serving twin of similarity.query_ivf_index: arriving query vectors
    are answered per micro-batch with their k nearest stored neighbors,
    ``(query_id, vec_id, score, rank)``.  This is the lookup primitive
    an always-on retrieval/decontamination pipeline runs at ingest
    (score each arriving document's embedding against the training
    corpus), built from the same frozen-index contract as the batch
    prober.

    Plan shape, by streaming constraint vs the batch prober:

    - Probe selection is the SAME literal-centroid expression
      (_probe_clusters) — a pure projection, stateless and
      streaming-legal.
    - The batch prober collects the probe union and pushes it down as a
      static partition filter; a stream cannot collect, so the static
      side is the lists table cached ALREADY PARTITIONED on _cluster
      (the gate-family cache contract) and each micro-batch joins its
      exploded probes to it — per batch only the batch-sized query side
      shuffles, and only the probed clusters' cached partitions produce
      join output.  ``bucketed_lists=True`` (r15, r14 verdict #2 — the
      stored-gate contract's fifth instance) reads the DERIVED bucketed
      mirror instead (ivf_lists_bucketed_write): the bucketBy(_cluster)
      layout satisfies the join's static-side distribution from LAYOUT,
      so the micro-batch plan has ZERO static-side Exchange from a
      fresh catalog (plan-asserted) and a serving restart pays a scan,
      not the corpus-sized repartition fill.  Mirror staleness after
      index appends is the writer's documented contract.  For TRUE
      per-batch partition pruning (not just a pre-distributed scan),
      use the foreachBatch variant stream_sim_topk_batch_prober.
    - The per-query top-k window is streaming-illegal; ONE aggregation
      is legal: ``collect_list`` of (−score, id) structs per query,
      ``array_sort`` + ``slice`` + ``posexplode`` — identical ranking
      contract (score desc, id asc ties) to the batch window,
      pytest-pinned equal.

    State caveat: the aggregation state is keyed by ``query_id`` and
    accumulates the probed candidate set per query, deduped per
    candidate id at output (r15, r14 advice): each candidate occupies AT
    MOST ONE of the k slots, with its best score — so duplicate stored
    ids (the append_ivf_index crash-recovery case query_ivf_index's
    ``dedupe_ids`` opt-in covers) and repeated arrivals can never
    displace legitimate neighbors from the top-k.  Queries should still
    be UNIQUE across the stream: re-issuing an id with a DIFFERENT
    vector merges candidates from two incompatible probe sets into one
    ranking (per-candidate max over both), which is not the top-k of
    either vector — unsupported, not merely stale.  State for a query
    lives until the stream ends.  Run in update mode.  Exact-cosine
    scores inside the probed lists; ``n_probe`` is the recall dial
    exactly as in the batch prober."""
    from bulkfhirloader_spark.operators.similarity import (
        _probe_clusters,
        _read_stored_centroids,
        cosine_with_norms,
        l2_norm,
        l2_normalize,
    )

    if k < 1:
        raise ValueError("k must be >= 1")
    spark = stream_queries.sparkSession
    centers = _read_stored_centroids(spark, index_path)
    if n_probe < 1 or n_probe > len(centers):
        raise ValueError(
            f"n_probe must be in [1, n_clusters={len(centers)}], got {n_probe}"
        )
    if bucketed_lists:
        lists = spark.table(register_ivf_lists_table(spark, index_path)).select(
            F.col(cand_id), F.col(cand_vec), F.col("_cn"), F.col("_cluster")
        )
    else:
        lists = spark.read.parquet(f"{index_path}/lists.parquet").select(
            F.col(cand_id), F.col(cand_vec), F.col("_cn"), F.col("_cluster")
        )
    reuse.evict(_live_static_ivf_caches)
    lists = _cached(_live_static_ivf_caches, lists, bucketed_lists, "_cluster")
    q_n = stream_queries.withColumn(
        "_qn", l2_norm(F.col(query_vec))
    ).withColumn("_nv", l2_normalize(F.col(query_vec), F.col("_qn")))
    qp = q_n.select(
        F.col(query_id),
        F.col(query_vec),
        F.col("_qn"),
        F.explode(_probe_clusters("_nv", centers, n_probe)).alias(
            "_cluster"
        ),
    )
    scored = (
        qp.join(lists, "_cluster")
        .filter(F.col(query_id) != F.col(cand_id))
        .select(
            F.col(query_id),
            F.col(cand_id),
            cosine_with_norms(
                F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
            ).alias("score"),
        )
    )
    agg = scored.groupBy(query_id).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(cand_id).alias("cid"),
                    (-F.col("score")).alias("ns"),
                )
            )
        ).alias("_bycid")
    )
    # Per-candidate dedupe BEFORE the k-slice (r15, r14 advice): without
    # it a candidate surfacing twice (duplicate stored ids after a blind
    # re-append, or a re-issued query id) occupies multiple of the k
    # slots and displaces legitimate neighbors.  Sorted (cid, ns), a
    # cid's FIRST occurrence is its best score, so adjacent-dedupe is one
    # O(m) filter (element_at is 1-based: at 0-based index i it reads the
    # PREVIOUS element; the i=0 guard keeps ANSI mode from rejecting
    # index 0) — the probed candidate list m is corpus-sized at scale, so
    # an exists-scan dedupe (O(m²)) would dominate the whole drain.  The
    # ranked order is then rebuilt with a second O(m log m) sort on
    # (ns, cid), identical to the batch window's (score desc, id asc).
    dedup = F.filter(
        F.col("_bycid"),
        lambda x, i: F.when(i == F.lit(0), F.lit(True)).otherwise(
            F.element_at(F.col("_bycid"), i)["cid"] != x["cid"]
        ),
    )
    ranked = F.array_sort(
        F.transform(
            dedup, lambda x: F.struct(x["ns"].alias("ns"), x["cid"].alias("cid"))
        )
    )
    top = agg.select(
        F.col(query_id), F.slice(ranked, 1, k).alias("_top")
    )
    return top.select(
        F.col(query_id),
        F.posexplode("_top").alias("_p", "_s"),
    ).select(
        query_id,
        F.col("_s.cid").alias(cand_id),
        (-F.col("_s.ns")).alias("score"),
        (F.col("_p") + 1).cast("int").alias("rank"),
    )


def ivf_lists_bucketed_write(
    spark, index_path: str, num_buckets: int = 8
) -> str:
    """Derive the bucketed serving mirror of a stored IVF index's lists:
    the rows of ``<index_path>/lists.parquet`` (the Hive-partitioned
    primary the batch prober prunes) rewritten at
    ``<index_path>/lists_bucketed``, bucketed on ``_cluster``, so
    ``stream_sim_topk(..., bucketed_lists=True)`` plans zero static-side
    Exchange and a serving restart pays a scan, not the corpus-sized
    repartition fill.  It is a derived mirror: ``append_ivf_index``
    appends to the primary only, so the mirror is stale after appends
    until re-derived, and the meta records ``n_rows`` at derive time for
    an audit against the primary.  Overwrite-only; the mirror is rebuilt
    on the gate-restart schedule.  Returns the catalog table name."""
    from pyspark.sql import Observation

    if num_buckets < 1:
        raise ValueError("num_buckets must be >= 1")
    # the audit count rides the write's own scan: a separate count() would
    # re-read the corpus-sized primary
    obs = Observation()
    lists = spark.read.parquet(f"{index_path}/lists.parquet").observe(
        obs, F.count(F.lit(1)).alias("n_rows")
    )
    with IVF_LISTS.writing(
        spark, index_path, "overwrite", (), (num_buckets,),
        trailer=lambda: (int(obs.get["n_rows"]),),
    ) as save:
        table = save(lists.withColumn("_cluster", F.col("_cluster").cast("int")))
    return table


register_ivf_lists_table = IVF_LISTS.register


def stream_sim_topk_batch_prober(
    index_path: str,
    sink,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
    dedupe_ids: bool = False,
):
    """foreachBatch serving variant of stream_sim_topk (r15, r14 verdict
    #2's second half): returns a ``(batch_df, batch_id)`` function for
    ``writeStream.foreachBatch`` that answers each micro-batch's queries
    with the BATCH prober (similarity.query_ivf_index) verbatim — the
    probe union is collected per batch and pushed down as a static
    partition filter, so every micro-batch gets TRUE planning-time list
    pruning (only the probed ``_cluster=<c>`` directories are ever
    listed into tasks), the one property the stream-legal join in
    stream_sim_topk structurally cannot have (a stream side cannot
    collect).  The ranked ``(query_id, cand_id, score, rank)`` result is
    handed to ``sink(result_df, batch_id)``.  foreachBatch is
    AT-LEAST-ONCE: a batch can replay after a mid-batch failure, so the
    sink must be idempotent PER batch_id — e.g. overwrite a
    per-batch-id subdirectory (the registry fixture's shape), upsert
    keyed on (batch_id, query_id), or dedupe on read; a blind append
    duplicates the replayed batch's rows.

    Trade against stream_sim_topk: per-query top-k here is per-BATCH
    top-k, correct because each query id arrives exactly once (the same
    uniqueness contract the streaming aggregation documents — here a
    re-issued id yields a second independent answer in a later batch
    rather than a merged ranking).  foreachBatch runs the prober's
    driver-side probe-union collect once per micro-batch — the batch is
    small by the query-side contract."""

    def _answer(batch_df, batch_id) -> None:
        from bulkfhirloader_spark.operators.similarity import query_ivf_index

        if batch_df.isEmpty():
            return
        out = query_ivf_index(
            batch_df.sparkSession,
            index_path,
            batch_df,
            k=k,
            n_probe=n_probe,
            query_id=query_id,
            cand_id=cand_id,
            query_vec=query_vec,
            cand_vec=cand_vec,
            dedupe_ids=dedupe_ids,
        )
        sink(out, batch_id)

    return _answer


def winnow_store_write(
    docs: DataFrame,
    path: str,
    k: int = 3,
    window: int = 4,
    hash_tier: str = "fold",
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "append",
    num_buckets: int | None = None,
) -> None:
    """Persist the winnowing fingerprint table the substring-overlap gate's
    static side reads: ``(id, fp_hash)`` rows at ``<path>/fps`` (bucketed
    on ``fp_hash``), ~1/window of the corpus's k-gram posting volume.
    (k, window, hash_tier) is the geometry: fingerprints selected under
    another gram length, window or hash never collide.  Layout, meta
    lifecycle and refusals: the family contract in sources.stores."""
    from bulkfhirloader_spark.operators.text import winnow_fingerprints

    fps = winnow_fingerprints(
        docs, k=k, window=window, id_col=id_col, text_col=text_col,
        with_positions=False, hash_tier=hash_tier,
    ).select(F.col(id_col).alias("id"), "fp_hash")
    with WINNOW.writing(
        docs.sparkSession, path, mode, (k, window, hash_tier), (num_buckets,)
    ) as save:
        save(fps)


register_winnow_table = WINNOW.register


def winnow_store_read(
    spark, path: str, k: int = 3, window: int = 4, hash_tier: str = "fold"
):
    """(rows, is_bucketed) of the winnow store at ``path``."""
    return WINNOW.read(spark, path, (k, window, hash_tier))


def _winnow_screen(
    stream: DataFrame, existing, store, src: tuple, k: int, window: int,
    max_fp_df: int | None, id_col: str, text_col: str, hash_tier: str,
) -> _Screen:
    """Winnowing fingerprint rows keyed on ``fp_hash``, no verify (a
    shared fingerprint IS the evidence), capped at ``max_fp_df`` static
    rows per fingerprint (one row per document: the rows are distinct
    ``(id, fp_hash)`` pairs).  The stream side is each arrival's fingerprint
    SET as one projection (text.winnow_fp_array, the streaming-legal form)
    exploded OUTER, so a sub-k-token arrival keeps one NULL row that can
    never match; ``_n_fps`` carries the set size for the admission count."""
    from bulkfhirloader_spark.operators.text import (
        winnow_fingerprints,
        winnow_fp_array,
    )

    bucketed = False
    if _from_store((existing,), store, "winnow_store", src):
        rows, bucketed = winnow_store_read(
            stream.sparkSession, store, k, window, hash_tier
        )
        static = rows.withColumnRenamed("id", "id_e")
    else:
        static = winnow_fingerprints(
            existing, k=k, window=window, id_col=id_col, text_col=text_col,
            with_positions=False, hash_tier=hash_tier,
        ).select(F.col(id_col).alias("id_e"), "fp_hash")
    if max_fp_df is not None and max_fp_df < 1:
        raise ValueError("max_fp_df must be >= 1")
    fps = winnow_fp_array(F.col(text_col), k=k, window=window, hash_tier=hash_tier)
    stream_fps = stream.select(F.col(id_col).alias("id_s"), fps.alias("_fps")).select(
        "id_s", F.size("_fps").alias("_n_fps"), F.explode_outer("_fps").alias("fp_hash")
    )
    return _Screen(stream_fps, static, ("fp_hash",), None, bucketed, max_fp_df)


def stream_winnow_admission(
    stream_docs: DataFrame,
    existing: DataFrame | None = None,
    k: int = 3,
    window: int = 4,
    max_fp_df: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_tier: str = "fold",
    winnow_store: str | None = None,
) -> DataFrame:
    """Streaming SUBSTRING-OVERLAP admission gate: admit arriving
    documents that share NO winnowing fingerprint with the existing corpus
    (plan, cache and state contract: _gate; rows: _winnow_screen).  The
    winnowing guarantee makes the screen DETERMINISTIC: any arrival sharing
    a token run of length >= window + k - 1 with an existing document
    shares at least one selected fingerprint and is rejected — the
    quote/boilerplate/near-copy ingest case MinHash screens only
    probabilistically.  A doc is admitted iff all its fingerprint rows
    survive; documents with no fingerprints (< k tokens) carry no overlap
    evidence and are admitted.

    This gate is the ``min_shared=1`` (strictest) point of
    winnow_candidates' dial BY CONSTRUCTION: a >= 2 threshold needs a
    per-(stream, static) pair count followed by a per-stream-doc
    aggregate — two chained aggregations, which a streaming query cannot
    plan; screen at 1 here and re-rank admitted docs in batch if a
    softer threshold matters.

    ``max_fp_df`` drops STATIC fingerprints present in more than that
    many existing documents before the join — the winnow_candidates
    boilerplate cap, with the gate-specific trade stated plainly: an
    arrival whose ONLY shared fingerprints are corpus-boilerplate is
    admitted (weaker screening on boilerplate, bounded per-row join
    fan-out).  ``winnow_store=<path>`` (winnow_store_write) replaces the
    construction-time winnowing pass with a store scan."""
    sc = _winnow_screen(
        stream_docs, existing, winnow_store,
        ("stream_winnow_admission", "existing docs", True),
        k, window, max_fp_df, id_col, text_col, hash_tier,
    )
    all_rows = F.greatest(F.max("_n_fps"), F.lit(1))
    return _gate(_live_static_winnow_caches, sc, id_col, all_rows)


def _image_bands(hashes: DataFrame, sfx: str) -> DataFrame:
    """``(id{sfx}, hi{sfx}, lo{sfx}, band_key)``: one row per 16-bit slice
    of each non-NULL 64-bit perceptual hash — the image store's rows and
    both sides of the image gate.  ``band_key = band_idx * 65536 +
    band_val`` is a bijection of the (slice index, slice value) pair into
    one long, so the store buckets on one column and the gate joins on one
    key (pigeonhole semantics identical: equal key ⟺ same slice index AND
    same slice value).  NULL hashes (corrupt payloads) are dropped."""
    hi, lo, mask = F.col("hash_hi"), F.col("hash_lo"), F.lit(0xFFFF)
    keys = F.array(
        lo.bitwiseAND(mask),
        F.shiftrightunsigned(lo, 16).bitwiseAND(mask) + F.lit(65536),
        hi.bitwiseAND(mask) + F.lit(131072),
        F.shiftrightunsigned(hi, 16).bitwiseAND(mask) + F.lit(196608),
    )
    return hashes.where(hi.isNotNull() & lo.isNotNull()).select(
        F.col("media_id").alias(f"id{sfx}"),
        hi.alias(f"hi{sfx}"),
        lo.alias(f"lo{sfx}"),
        F.explode(keys).alias("band_key"),
    )


def image_hash_store_write(
    hashes: DataFrame,
    path: str,
    bands: int = 4,
    mode: str = "append",
    num_buckets: int | None = None,
) -> None:
    """Persist the banded perceptual-hash table the image gate's static
    side reads: ``(id, band_key, hash_hi, hash_lo)`` rows at
    ``<path>/bands`` (bucketed on ``band_key``), 4 per hash (~96 B per
    image), so a gate restart pays a scan instead of re-banding the
    corpus.  ``bands`` is the geometry.  NULL hashes (corrupt payloads)
    are dropped: quarantined content screens nothing.  Layout, meta
    lifecycle and refusals: the family contract in sources.stores."""
    if bands != 4:
        raise ValueError("64-bit aHash bands: only the 4 x 16-bit split is wired")
    banded = _image_bands(hashes, "").select(
        "id", "band_key", F.col("hi").alias("hash_hi"), F.col("lo").alias("hash_lo")
    )
    with IMAGE_HASH.writing(
        hashes.sparkSession, path, mode, (bands,), (num_buckets,)
    ) as save:
        save(banded)


register_image_hash_table = IMAGE_HASH.register


def image_hash_store_read(spark, path: str, bands: int = 4):
    """(rows, is_bucketed) of the perceptual-hash store at ``path``."""
    return IMAGE_HASH.read(spark, path, (bands,))


def _image_screen(
    stream_media: DataFrame, existing_hashes, store, max_hamming: int,
    bands: int, max_bucket_size: int | None,
) -> _Screen:
    """aHash band rows (_image_bands) keyed on ``band_key`` and verified
    by exact popcount Hamming distance <= ``max_hamming``; by pigeonhole
    any pair within ``max_hamming <= bands - 1`` bits agrees on >= 1 band,
    so the keys propose a superset.  The stream side hashes in one Arrow
    pass (multimodal.image_ahash, stateless)."""
    from bulkfhirloader_spark.operators.multimodal import image_ahash

    if max_hamming > bands - 1:
        raise ValueError(
            f"banded Hamming recall is only exact for max_hamming <= "
            f"bands - 1 (pigeonhole); got max_hamming={max_hamming}, "
            f"bands={bands}"
        )
    if bands != 4:
        raise ValueError("64-bit aHash bands: only the 4 x 16-bit split is wired")
    if max_bucket_size is not None and max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 (a pair needs 2)")
    bucketed = False
    src = ("stream_image_admission", "existing_hashes", True)
    if _from_store((existing_hashes,), store, "hash_store", src):
        rows, bucketed = image_hash_store_read(stream_media.sparkSession, store, bands)
        static = rows.withColumnsRenamed(
            {"id": "id_e", "hash_hi": "hi_e", "hash_lo": "lo_e"}
        )
    else:
        static = _image_bands(existing_hashes, "_e")
    hamming = F.bit_count(F.col("hi_s").bitwiseXOR(F.col("hi_e"))) + F.bit_count(
        F.col("lo_s").bitwiseXOR(F.col("lo_e"))
    )
    return _Screen(
        _image_bands(image_ahash(stream_media), "_s"), static, ("band_key",),
        hamming <= F.lit(max_hamming), bucketed, max_bucket_size,
    )


def stream_image_admission(
    stream_media: DataFrame,
    existing_hashes: DataFrame | None = None,
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket_size: int | None = None,
    hash_store: str | None = None,
) -> DataFrame:
    """Streaming PERCEPTUAL admission gate (r13): admit arriving media
    whose aHash is more than ``max_hamming`` bits from EVERY existing
    image's hash, so a visually-near-duplicate re-render is rejected at
    ingest (plan, cache and state contract: _gate; rows: _image_screen).
    The static side is the already-hashed corpus table
    (multimodal.image_ahash output, ~24 B/row regardless of image size).
    Media are admitted iff all ``bands`` of their rows survive.
    DETERMINISTIC recall (pigeonhole, enforced), unlike the MinHash gate's
    probabilistic banding.  Corrupt payloads hash to NULL and are dropped
    — an undecodable blob is quarantined, not admitted (compose
    payload_stats quarantine upstream if corrupt rows must be routed).

    HOT-BAND SKEW (r14): perceptual-hash bands of trivial content
    (blank/flat images → 0x0000/0xFFFF bands) pile into one bucket, so
    every stream row touching that band pays O(bucket) comparisons per
    micro-batch.  ``max_bucket_size`` EXCLUDES static band rows in buckets
    larger than the cap.  GATE-SPECIFIC TRADE, read before setting it: a
    capped static row cannot CHALLENGE stream rows through that band, so
    a stream near-dup whose every shared band is capped is silently
    ADMITTED — weaker screening, not just lost pairs.  The right fix for
    hot-band content is exact dedup upstream of the static table
    (image_exact_dedup), leaving buckets of genuinely-distinct
    near-threshold hashes that the cap then bounds.  Default None keeps
    the exact pigeonhole screen.

    STORED TIER: ``hash_store=<path>`` (image_hash_store_write) makes the
    static side a scan of the pre-banded store instead of a per-session
    re-band + cache fill (``existing_hashes`` must then be omitted).  Both
    tiers join on the same ``band_key``."""
    sc = _image_screen(
        stream_media, existing_hashes, hash_store, max_hamming, bands,
        max_bucket_size,
    )
    return _gate(_live_static_img_caches, sc, "media_id", F.lit(bands))


def stream_admission_pipeline(
    stream_docs: DataFrame,
    existing_docs: DataFrame | None = None,
    existing_emb: DataFrame | None = None,
    centroids=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    jaccard_threshold: float = 0.5,
    k: int = 3,
    window: int = 4,
    hash_tier: str = "fold",
    cosine_threshold: float = 0.4,
    round_dp: int = 6,
    banded_store: str | None = None,
    winnow_store: str | None = None,
    semantic_store: str | None = None,
) -> DataFrame:
    """COMPOSED streaming admission pipeline (r15), the deployment shape
    the standalone gates exist for: each arriving document (text AND
    embedding) is screened against the existing corpus by the MinHash,
    winnow and semantic screens, in that order, and comes back labeled
    ``(id_col, stage)`` with the FIRST stage that rejected it ('exact' |
    'winnow' | 'semantic') or 'admitted'.

    A streaming query cannot chain three anti joins through three
    aggregations, so the screens run as LEFT SEMI probes of the SAME
    stream (a hit means "this stage would reject"), unioned with a
    baseline row per arrival under ONE min-aggregate per doc: min stage
    rank = first failing stage.  Admitted docs are exactly the
    intersection of the three standalone gates' admissions
    (pytest-pinned per stage): a stage rejects iff ANY of the doc's rows
    verifies a match, the gates' all-rows-survive rule read from the
    complement side.

    Static sides come from ``existing_docs`` (text screens) and
    ``existing_emb`` + ``centroids`` (semantic), derived as the gates
    derive theirs, or stage by stage from the store each gate reads
    (``banded_store=``, ``winnow_store=``, ``semantic_store=``; the last
    carries its own fit, so ``centroids``/``existing_emb`` must then be
    omitted).  Stages mix freely.  Cache contract: _gate, with its own
    ledger (a new pipeline evicts the previous pipeline's three static
    caches, not the gates').  State is one min-rank per doc, but a plain
    streaming aggregation never evicts, so it grows with distinct ids
    seen: restart on the store-append schedule, or key the aggregate by
    (id, ingest-time window) with an upstream watermark.  Run in update
    mode."""
    screens = (
        _minhash_screen(
            stream_docs, existing_docs, banded_store,
            ("the exact stage", "existing_docs", False), id_col, text_col,
            num_hashes, bands, shingle_words, jaccard_threshold,
        ),
        _winnow_screen(
            stream_docs, existing_docs, winnow_store,
            ("the winnow stage", "existing_docs", False), k, window, None,
            id_col, text_col, hash_tier,
        ),
        _semantic_screen(
            stream_docs, existing_emb, centroids, semantic_store,
            ("the semantic stage", "(existing_emb, centroids)", True),
            id_col, vec_col, round_dp, cosine_threshold,
        ),
    )
    ledger = _live_static_pipeline_caches
    reuse.evict(ledger)
    ranked = stream_docs.select(F.col(id_col), F.lit(len(screens)).alias("_rank"))
    for rank, sc in enumerate(screens):
        hits = _probe(ledger, sc, "left_semi")
        ranked = ranked.unionByName(
            hits.select(F.col("id_s").alias(id_col), F.lit(rank).alias("_rank"))
        )
    stage = F.array(*[F.lit(s) for s in ("exact", "winnow", "semantic", "admitted")])
    return (
        ranked.groupBy(id_col)
        .agg(F.min("_rank").alias("_r"))
        .select(F.col(id_col), stage[F.col("_r")].alias("stage"))
    )
