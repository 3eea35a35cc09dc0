"""Similarity search over embedding columns (array<float>).

The tiers, by which resource they bound:
- ``cosine_topk_bruteforce`` — exact baseline: broadcast the (small) query
  set against the corpus, fold-scored JVM-side, window top-k.  At 100 TB a
  single broadcast pass — no corpus shuffle.
- ``cosine_topk_pandas`` — the same exact semantics scored by BLAS over
  Arrow batches; the production path for WIDE embeddings (d ≥ ~1024).
- ``cosine_topk_lsh`` — bounds candidates by hyperplane-sign buckets
  (touches ~1/2^bits of the corpus per query), exact re-scoring within.
- ``cosine_topk_ivf`` (+ ``build_ivf_index``/``query_ivf_index`` stored
  form) — bounds COMPUTE: KMeans coarse quantizer, each query probes
  ``n_probe`` lists, exact cosine within; data-adaptive, beats LSH on
  clustered corpora.
- ``cosine_topk_pq`` — bounds MEMORY: product-quantization codes (m bytes
  per vector) scanned via per-query ADC lookup tables, exact re-rank of
  the proposed candidates.
- ``cosine_topk_ivfpq`` — the production composition (FAISS IVFPQ): IVF
  restricts which lists are scanned, PQ codes are what gets scanned,
  exact re-rank restores truth.

All exact scoring is in DOUBLE with a left-to-right fold so results are
deterministic and oracle-checkable.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs
# pd.Series resolvable in module globals (PEP 563 string annotations are
# evaluated there, not in the enclosing function scope)
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.functions.binding import let


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double precision (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / F.nullif(l2_norm(a) * l2_norm(b), F.lit(0.0))


def _sql_double_literal(v: float) -> str:
    """A Spark-SQL DOUBLE literal with the exact bits of ``v``: Python
    ``repr`` emits the shortest decimal that round-trips, and Spark's
    parser (Java ``Double.parseDouble``) is correctly rounded, so the
    parsed literal is bit-identical to ``F.lit(v)``."""
    return f"{float(v)!r}D"


def lit_double_array(values) -> Column:
    """``F.array(*[F.lit(v) for v in values])`` built as ONE ``F.expr``
    parse (r16, guide §7.3 driver-side work): the per-element Column form
    issues one py4j round trip per component, which at matrix scale
    (n_tables × n_planes × dim, or n_clusters × dim) is hundreds of
    driver calls per expression — measured 0.7-0.9 s per stored-IVF probe
    invocation before the switch.  The parsed tree is the same
    CreateArray-of-double-Literals, bit-identical values (see
    _sql_double_literal), so plans and results are unchanged."""
    return F.expr(
        "array(" + ", ".join(_sql_double_literal(v) for v in values) + ")"
    )


def cosine_with_norms(a: Column, b: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine with per-ROW precomputed norms: inside a pair join, computing
    l2_norm per pair multiplies the norm work by the join fan-out (each
    corpus row's norm recomputed once per query / candidate partner).
    Bit-identical to ``cosine`` — same dot / (na * nb) double expression.

    The ``nullif`` guard makes cosine against an all-zero vector NULL
    instead of an ANSI DIVIDE_BY_ZERO throw: NULL scores sort last under
    ``desc`` (top-k) and fail ``>= threshold`` filters (near-dup pairs) —
    a zero vector is similar to nothing."""
    return dot(a, b) / F.nullif(norm_a * norm_b, F.lit(0.0))


def cosine_topk_bruteforce(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query.

    The query side is broadcast (queries are user requests — thousands at
    most); the candidate corpus streams through in place.  Norms are
    computed once per row BEFORE the cross join (per-pair norm recompute
    would cost n_queries× the work).  Tie-break on candidate id keeps
    ranking deterministic.
    """
    q_n = queries.withColumn("_qn", l2_norm(F.col(query_vec)))
    c_n = candidates.withColumn("_cn", l2_norm(F.col(cand_vec)))
    joined = c_n.crossJoin(F.broadcast(q_n)).filter(
        F.col(query_id) != F.col(cand_id)
    )
    scored = joined.select(
        F.col(query_id),
        F.col(cand_id),
        cosine_with_norms(
            F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (driver-side, tiny)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
            # map to roughly-uniform [-1, 1)
            row.append(state / float(1 << 62) - 1.0)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[float]]) -> Column:
    """Sign-bit bucket id from random hyperplane projections."""
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        proj = dot(vec, lit_double_array(plane))
        bucket = bucket.bitwiseOR(
            F.when(proj > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return bucket


def sign_matrix(in_dim: int, out_dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic ±1 sign matrix (driver-side, tiny) for random-sign
    (Achlioptas-style) Johnson–Lindenstrauss projection."""
    rows = []
    state = seed
    for _ in range(out_dim):
        row = []
        for _ in range(in_dim):
            state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
            row.append(1.0 if (state >> 62) & 1 else -1.0)
        rows.append(row)
    return rows


def random_projection(
    emb: DataFrame,
    signs: list[list[float]],
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id",),
    scale: bool = True,
) -> DataFrame:
    """Random-sign Johnson–Lindenstrauss projection: map each d-dim vector
    to ``len(signs)`` dims via ``p_k = dot(vec, signs[k]) / sqrt(k_out)``.
    The cheap dimensionality-reduction step before LSH bucketing or coarse
    clustering when d is large — distances are preserved within (1±ε) at
    k_out = O(log n / ε²), and a sign matrix needs no multiply hardware.

    Scale shape: the matrix is a driver-side LITERAL spliced into the
    expression (no broadcast join, nothing to ship per-task beyond the
    closure) and the projection is a PURE zero-shuffle codegen projection
    over the corpus.  Determinism: each output is a left-to-right double
    fold; sign flips and the final ``/ sqrt(k_out)`` are IEEE-exactly-
    rounded, so outputs are bit-identical across engines (oracle-checked).
    """
    k_out = len(signs)
    if k_out == 0 or not signs[0]:
        raise ValueError("signs must be a non-empty matrix")
    vec = F.col(vec_col)
    comps = [dot(vec, lit_double_array(row)) for row in signs]
    if scale:
        denom = F.sqrt(F.lit(float(k_out)))
        comps = [c / denom for c in comps]
    return emb.select(*id_cols, F.array(*comps).alias("projection"))


def l2_normalize(vec: Column, norm: Column) -> Column:
    """Unit-normalize an array vector in double precision (cosine on
    normalized vectors == dot product; IVF's Euclidean KMeans then orders
    clusters consistently with cosine).

    ``norm`` must be a PRECOMPUTED sibling column (``withColumn("_n",
    l2_norm(vec))``): referencing ``l2_norm(vec)`` inside the per-element
    lambda would splice the O(d) aggregate subtree into every element's
    expression — O(d²) work per vector, ~1000× overhead at d=1024 (Catalyst
    does not reliably CSE inside ``transform`` lambdas).  All-zero vectors
    map to zero vectors instead of NaN (0/0 under non-ANSI; ANSI throws),
    mirroring ``quantize_int8`` — KMeans must never see NaN features."""
    return F.when(
        norm == 0.0, F.transform(vec, lambda x: F.lit(0.0))
    ).otherwise(F.transform(vec, lambda x: x.cast("double") / norm))


def quantize_int8(vec: Column) -> tuple[Column, Column]:
    """Symmetric per-vector int8 quantization — the standard 4× storage
    reduction for 100 TB embedding stores: ``scale = max|x| / 127``,
    ``q_i = clamp(round(x_i / scale), ±127)``.

    Returns ``(scale, quantized)`` column expressions.  Rounding is
    ``floor(x + 0.5)`` explicitly (identical on every engine; bare
    round() is half-up in Spark but half-even in DuckDB, which would make
    exact .5 quotients oracle-unstable).  All-zero vectors quantize to
    zeros with scale 0 instead of dividing by zero (ANSI mode throws).

    Zero shuffle — a pure projection like the ops around it.  The scale
    is LET-BOUND inside the quantize lambda: referencing the
    array_max-reduction expression per element would re-reduce the whole
    vector for every component — O(d²) per vector (see
    functions/binding.py).
    """
    absmax = F.array_max(F.transform(vec, lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    q = let(
        scale,
        lambda s: F.transform(
            vec,
            lambda x: F.when(s == 0.0, F.lit(0)).otherwise(
                F.greatest(
                    F.lit(-127),
                    F.least(
                        F.lit(127),
                        F.floor(x.cast("double") / s + F.lit(0.5)).cast("int"),
                    ),
                )
            ),
        ),
    )
    return scale, q


def _quantizer_train_set(
    with_feat: DataFrame, n_clusters: int, train_fraction: float, seed: int
) -> DataFrame:
    """Pick the KMeans training input for an IVF build: the full corpus at
    train_fraction=1.0 (bit-identical to the historical behavior), else a
    seeded Bernoulli sample — guarded so a sample too small to support
    ``n_clusters`` centroids (tiny corpus × small fraction) falls back to
    the full corpus instead of failing inside MLlib with an error that
    names neither the knob nor the cause."""
    if not 0.0 < train_fraction <= 1.0:
        raise ValueError(
            f"train_fraction must be in (0, 1], got {train_fraction!r}"
        )
    if train_fraction >= 1.0:
        return with_feat
    sampled = with_feat.sample(train_fraction, seed)
    # bounded probe: limit(k) stops the scan as soon as k rows surface
    if sampled.limit(n_clusters).count() < n_clusters:
        return with_feat
    return sampled


def cosine_topk_ivf(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
    train_fraction: float = 1.0,
) -> DataFrame:
    """IVF approximate top-k: train a KMeans coarse quantizer on the
    L2-normalized corpus, assign every candidate to its nearest centroid
    (one JVM-side model.transform — no shuffle), and have each query probe
    only the ``n_probe`` centroids nearest to it, scoring exact cosine
    inside those inverted lists.

    Scale shape: training samples/iterates over vectors (MLlib handles it
    distributed); assignment is a projection; the probe join is a broadcast
    of (query, cluster) pairs against the cluster-assigned corpus — the
    corpus itself never shuffles.  Centroids travel as plan literals
    (n_clusters × dim doubles — tiny).

    ``train_fraction`` < 1 trains the quantizer on a seeded Bernoulli
    sample of the corpus (the FAISS convention — a coarse quantizer only
    needs enough points per centroid, ~hundreds, to converge); the
    ASSIGNMENT still covers every vector, so results stay exact-within-
    probed-lists and only the centroid positions (hence list boundaries)
    depend on the sample.  Default 1.0 preserves the historical output
    bit-for-bit.  Measured (scripts/ann_scale_evidence.py corpus, 500k ×
    d=64, nlist=256, n_probe=8): train_fraction 1.0 / 0.1 / 0.02 runs
    end-to-end in 225 / 79 / 64 s at recall@10 0.80 / 0.79 / 0.81 —
    training shrinks ~proportionally, recall does not move.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    cand_n = candidates.withColumn("_cn", l2_norm(F.col(cand_vec))).withColumn(
        "_nv", l2_normalize(F.col(cand_vec), F.col("_cn"))
    )
    with_feat = cand_n.withColumn("features", array_to_vector(F.col("_nv")))
    train_set = _quantizer_train_set(with_feat, n_clusters, train_fraction, seed)
    model = KMeans(k=n_clusters, seed=seed).fit(train_set)
    assigned = (
        model.transform(with_feat)
        .withColumnRenamed("prediction", "_cluster")
        .drop("features", "_nv")
    )
    centers = [list(map(float, c)) for c in model.clusterCenters()]

    # per-query centroid ranking as a literal-array expression: sort
    # (distance², centroid-id) structs, keep the first n_probe
    q_n = queries.withColumn("_qn", l2_norm(F.col(query_vec))).withColumn(
        "_nv", l2_normalize(F.col(query_vec), F.col("_qn"))
    )
    dist2 = [
        F.aggregate(
            F.zip_with(
                F.col("_nv"),
                lit_double_array(c),
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        for c in centers
    ]
    ranked = F.array_sort(
        F.array(
            *[F.struct(d.alias("d"), F.lit(i).alias("c")) for i, d in enumerate(dist2)]
        )
    )
    probe_clusters = F.transform(F.slice(ranked, 1, n_probe), lambda s: s["c"])
    qp = q_n.select(
        F.col(query_id),
        F.col(query_vec),
        F.col("_qn"),
        F.explode(probe_clusters).alias("_cluster"),
    )

    # norms were hoisted once per row above ("_cn" survives the assignment
    # projection; "_qn" rides the broadcast) — no per-pair recompute
    joined = assigned.join(F.broadcast(qp), "_cluster").filter(
        F.col(query_id) != F.col(cand_id)
    )
    scored = joined.select(
        F.col(query_id),
        F.col(cand_id),
        cosine_with_norms(
            F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def lsh_tables(dim: int, n_planes: int, n_tables: int, seed: int = 42) -> list:
    """``n_tables`` independent hyperplane sets (OR-amplification): a pair
    is a candidate if ANY table co-buckets it, so per-pair miss probability
    decays exponentially in the table count while each table stays a cheap
    k-bit equi-join key.  Standard multi-table LSH (Indyk-Motwani); the
    knob that takes hyperplane LSH from "decent recall" to "total recall on
    a known corpus" without widening any single bucket."""
    return [
        _hyperplanes(dim, n_planes, seed=seed + 9973 * t) for t in range(n_tables)
    ]


def _table_buckets(vec, tables: list) -> Column:
    """posexplode-ready array of per-table bucket ids for one vector.

    Pass the vector column's NAME (str) and the whole array is built by
    ONE ``F.expr`` parse (r16, guide §4 driver-side work): the Column form
    issues ~10 py4j round trips per plane per table.  The parsed tree is
    the same OR-of-sign-bits over fold dot products
    (sameSemantics-pinned in tests); a Column argument keeps the
    per-plane builder for computed vector expressions."""
    if isinstance(vec, str):
        name = f"`{vec}`"

        def _bucket_sql(planes: list) -> str:
            b = "CAST(0 AS BIGINT)"
            for i, plane in enumerate(planes):
                arr = (
                    "array("
                    + ", ".join(_sql_double_literal(v) for v in plane)
                    + ")"
                )
                d = (
                    f"aggregate(zip_with({name}, {arr}, "
                    "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
                    "0.0D, (acc, x) -> acc + x)"
                )
                b = (
                    f"({b} | CASE WHEN {d} > 0 THEN "
                    f"shiftleft(CAST(1 AS BIGINT), {i}) "
                    "ELSE CAST(0 AS BIGINT) END)"
                )
            return b

        return F.expr(
            "array(" + ", ".join(_bucket_sql(p) for p in tables) + ")"
        )
    return F.array(*[lsh_bucket(vec, planes) for planes in tables])


def cosine_topk_lsh(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_planes: int = 6,
    n_tables: int = 1,
    dim: int = 64,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
) -> DataFrame:
    """Approximate top-k: bucket by hyperplane signs, exact cosine within the
    query's bucket.  Two amplification knobs: multi-probing (flipping one
    bit) widens each table's recall, and ``n_tables`` independent tables
    OR-combine (a candidate needs to co-bucket in ANY table) — per-neighbor
    miss probability decays exponentially in the table count.  The bucket
    join is an equi join on (table, bucket) — uniform hash, no skew; the
    corpus side carries n_tables rows per vector, queries are broadcast.
    """
    tables = lsh_tables(dim, n_planes, n_tables)
    cand_b = candidates.select(
        "*", F.posexplode(_table_buckets(cand_vec, tables)).alias("tbl", "bucket")
    ).withColumn("_cn", l2_norm(F.col(cand_vec)))
    # multi-probe: the query's own bucket plus every 1-bit flip, per table
    probe_buckets = F.array(
        F.col("bucket"),
        *[
            F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
            for i in range(n_planes)
        ],
    )
    q_b = (
        queries.select(
            "*",
            F.posexplode(_table_buckets(query_vec, tables)).alias(
                "tbl", "bucket"
            ),
        )
        .withColumn("_qn", l2_norm(F.col(query_vec)))
        .withColumn("probe", F.explode(probe_buckets))
        .drop("bucket")
    )
    joined = cand_b.join(
        F.broadcast(q_b),
        (cand_b["bucket"] == q_b["probe"]) & (cand_b["tbl"] == q_b["tbl"]),
    ).filter(F.col(query_id) != F.col(cand_id))
    scored = joined.select(
        F.col(query_id),
        F.col(cand_id),
        cosine_with_norms(
            F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    ).dropDuplicates([query_id, cand_id])
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def label_centroids(
    emb: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_dp: int | None = None,
) -> DataFrame:
    """Per-label mean vectors as ``(c_label, centroid: array<double>)``.

    posexplode → (label, dim)-keyed average → reassemble in dim order.  The
    partial aggregation collapses each input partition to n_labels × dim
    running sums before the exchange, so the shuffle is O(labels × dim)
    regardless of corpus size.  ``round_dp`` rounds each component (engine-
    stable arithmetic for oracle checks; Spark/DuckDB doubles agree well
    past 6 dp, and downstream cosines on identical inputs stay identical).
    """
    per_dim = (
        emb.select(label_col, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(label_col, "dim")
        .agg(F.avg(F.col("x").cast("double")).alias("mean_x"))
    )
    component = (
        (lambda s: F.round(s["mean_x"], round_dp))
        if round_dp is not None
        else (lambda s: s["mean_x"])
    )
    return per_dim.groupBy(F.col(label_col).alias("c_label")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mean_x"))), component
        ).alias("centroid")
    )


def classify_nearest_centroid(
    emb: DataFrame,
    centroids: DataFrame,
    vec_col: str = "embedding",
    id_cols: tuple[str, ...] = ("vec_id", "label"),
    round_dp: int = 6,
) -> DataFrame:
    """Nearest-centroid (Rocchio) classification: every vector gets the
    label of its highest-cosine centroid — the cheap corpus-labeling /
    topic-bucketing step of a training-data pipeline (quality tiers, domain
    routing) once per-class centroids exist.

    Scale shape: the class centroids (with their norms precomputed ONCE)
    collapse into a single array row that broadcasts under a cross join, and
    the argmax is ``array_max`` over per-class ``struct(score, -label)`` —
    corpus scoring is a PURE PROJECTION: zero shuffles, zero aggregates on
    the corpus path (the groupBy-struct-max alternative plans SortAggregate
    + a full-corpus exchange).  Each row's own norm is a hoisted sibling
    column, so the per-pair work is one dot product + one multiply.  Ties
    (after ``round_dp`` rounding) break to the SMALLEST label —
    deterministic and restatable as a ``row_number`` oracle.
    """
    cents_row = centroids.select(
        F.struct(
            F.col("c_label"),
            F.col("centroid"),
            l2_norm(F.col("centroid")).alias("c_norm"),
        ).alias("_c")
    ).agg(F.collect_list("_c").alias("_cents"))
    with_norm = emb.select(
        *id_cols,
        F.col(vec_col).cast("array<double>").alias("_v"),
    ).withColumn("_vn", l2_norm(F.col("_v")))
    best = F.array_max(
        F.transform(
            "_cents",
            lambda c: F.struct(
                F.round(
                    cosine_with_norms(
                        F.col("_v"), c["centroid"], F.col("_vn"), c["c_norm"]
                    ),
                    round_dp,
                ).alias("score"),
                (-c["c_label"]).alias("neg_label"),
            ),
        )
    )
    return (
        with_norm.crossJoin(F.broadcast(cents_row))
        .withColumn("_m", best)
        .select(
            *id_cols,
            (-F.col("_m.neg_label")).alias("predicted_label"),
            F.col("_m.score").alias("score"),
        )
    )


def kmeans_centroids(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
    assign_tier: str = "fold",
) -> DataFrame:
    """Deterministic distributed Lloyd's k-means over an embedding column,
    returning the final ``(c_label, centroid: array<double>)`` table.

    This is the repo's THIRD k-means, for the niche the other two can't
    serve: the IVF quantizer (cosine_topk_ivf:294) is MLlib-backed —
    fast, but its fit is not restatable as ANSI SQL, so nothing downstream
    of it can be value-hash oracle-checked; the PQ trainer
    (pq_train_codebooks:1059) is a bounded DRIVER-SAMPLE fit, which is
    wrong when the deliverable is every corpus row's assignment (semantic
    dedup needs the population clustered, not a sketch of it).  This tier
    runs Lloyd's iterations as pure DataFrame ops with a rounding contract
    at every step, so the whole fit — init, assignment, update — is
    reproducible cross-engine and the assignments it feeds stay
    hash-checkable.

    Determinism contract (each step restatable in SQL):
    - init: the ``k`` smallest-``id_col`` vectors, components rounded to
      ``round_dp``; cluster ids 0..k-1 in id order.
      Content-deterministic and partitioning-independent.  (Rounding-tie
      caveat, the quantize_int8 stance: bare round() is half-up in Spark
      but half-even in DuckDB, so an EXACT-half double at ``round_dp``
      would be oracle-unstable — measure-zero on real cosine/mean
      doubles, and every registry hash verifies green; quantize_int8
      shows the explicit floor(x+0.5) form if a caller ever needs
      tie-proof rounding.)
    - assignment: highest-cosine centroid, scores rounded to ``round_dp``
      before the argmax, ties to the smallest cluster id — exactly
      ``classify_nearest_centroid``'s contract (reused verbatim).
    - update: per-dimension mean of the members, rounded to ``round_dp``
      — exactly ``label_centroids``.  A cluster that loses all members
      drops (standard Lloyd variant); ids of survivors are stable.

    Scale shape: each iteration is ONE corpus pass — the assignment is a
    zero-shuffle broadcast projection (the k×dim centroid row rides a
    broadcast cross join) and the update's exchange carries only
    k × dim running sums (partial aggregation collapses each input
    partition before the shuffle).  Between iterations the k×dim centroid
    table (a few KB) is collected and re-issued as literals — bounded
    driver state, the same shape MLlib's own Lloyd uses — so plans stay
    FLAT: iteration i+1's lineage starts from literals, not from
    iteration i's full plan, and the corpus is never re-scanned more than
    n_iter + 1 times end-to-end.  k should scale with the corpus
    (k ≈ N / target_cluster_size), not stay constant: the update shuffle
    and the broadcast both grow only as k × dim.  Driver-state ceiling,
    explicitly: the per-iteration round-trip is k × dim × 8 bytes — the
    published SemDeDup operating point (k = 50k clusters, d = 768) is
    ~300 MB, heavy but the same order MLlib's own Lloyd holds on the
    driver; beyond that, keep the centroid relation distributed (chain
    ``classify_nearest_centroid`` → ``label_centroids`` without the
    collect) and accept nested lineage or checkpoint between iterations.

    Degenerate-vector contract (family-wide, r12 review): NULL embeddings
    and all-zero embeddings are EXCLUDED from the fit, the assignments,
    the pair stage, and the gate — a zero vector has no direction, so it
    cannot meaningfully cluster ("similar to nothing", the
    cosine_with_norms stance).  Without the explicit filter the two
    assignment tiers DIVERGED on such rows (verified: the fold tier's
    all-NULL-score argmax fell through to cluster 0 and skewed that
    centroid toward the origin, while the blas tier dropped the row — and
    a NULL embedding crashed the blas tier's np.stack outright), and a
    zero vector's NaN cosine makes DuckDB's ``>=`` comparisons diverge
    from Spark's NULL semantics in the oracles.  The oracle CTE applies
    the identical exclusion.

    ``assign_tier="blas"`` runs each iteration's assignment AND its
    per-cluster partial sums as one Arrow/numpy pass
    (``_kmeans_update_blas``): the fold tier's per-row assignment is
    k × dim interpreted expression nodes, which with the k ∝ N
    deployment rule makes the fit O(N²·dim / target_cluster_size) with
    an interpreted constant — measured 190–262 s (two runs) at
    800k × k=800 × d=16 vs 8.7 s for the blas tier on the same fit, with
    ZERO assignment mismatches (scripts/semantic_scale_evidence.py).
    Same rounded-argmax contract, NOT bit-promised equal to the fold
    (BLAS summation order; numpy half-even rounding) — keep ``fold``
    (the default) where oracle parity matters; identical fits
    pytest-pinned on separated corpora.
    """
    if assign_tier not in ("fold", "blas"):
        raise ValueError(f"assign_tier must be 'fold' or 'blas', got {assign_tier!r}")
    spark = emb.sparkSession
    emb = _drop_degenerate_vectors(emb, vec_col)
    seed = (
        emb.select(
            F.col(id_col),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x, round_dp),
            ).alias("_cen"),
        )
        .orderBy(id_col)
        .limit(k)
        .collect()
    )
    cents = [(i, list(r["_cen"])) for i, r in enumerate(seed)]
    schema = "c_label INT, centroid ARRAY<DOUBLE>"
    if not cents:
        # empty (or all-degenerate) corpus: BOTH tiers return the empty
        # centroid table.  Without this guard the tiers diverged (r12
        # advice): the fold tier degraded gracefully while the blas loop
        # IndexError'd on cents[0][1] / np.stack of an empty seed list.
        return spark.createDataFrame([], schema=schema)
    for _ in range(n_iter):
        if assign_tier == "blas":
            cents = _kmeans_update_blas(emb, cents, vec_col, round_dp)
            continue
        cents_df = spark.createDataFrame(cents, schema=schema)
        assigned = classify_nearest_centroid(
            emb,
            cents_df,
            vec_col=vec_col,
            id_cols=(id_col, vec_col),
            round_dp=round_dp,
        )
        new_cents = label_centroids(
            assigned,
            vec_col=vec_col,
            label_col="predicted_label",
            round_dp=round_dp,
        ).collect()
        cents = sorted((r["c_label"], list(r["centroid"])) for r in new_cents)
    return spark.createDataFrame(cents, schema=schema)


def kmeans_centroids_chained(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """COLLECT-FREE Lloyd's k-means (r13, the r12 verdict's Next round
    #3): the same deterministic fit contract as ``kmeans_centroids`` —
    identical init, assignment, and update rules, pytest-pinned equal at
    small k — but the centroid relation STAYS DISTRIBUTED between
    iterations: ``classify_nearest_centroid`` already consumes centroids
    as a DataFrame (collapsing them to one broadcast row JVM-side), and
    ``label_centroids`` already produces them as one, so the chain never
    round-trips k × dim through the Python driver at all.  This is the
    tier for fits past the collected tier's documented driver ceiling
    (k × dim × 8 B per iteration, ~300 MB at SemDeDup's published
    k=50k × d=768 operating point).

    Plan hygiene: each iteration ends in an EAGER ``localCheckpoint`` of
    the k-row centroid table — without it iteration i+1's lineage embeds
    iteration i's full plan and the optimizer re-analyzes a doubling
    tree (the documented alternative's "accept nested lineage or
    checkpoint" trade, resolved in favor of checkpointing: the
    checkpoint materializes k × dim on EXECUTORS, bounded and off the
    driver).  The corpus is still scanned once per iteration + once for
    the caller's final assignment, same as the collected tier.

    Trade against the collected tier: centroids ride a broadcast of one
    collect_list row instead of literal expressions, so the SQL-oracle
    restatability of the COLLECTED fit (whose literals the registry CTEs
    unroll) is unchanged — this tier is for scale, certified by parity
    with the collected tier at oracle-checkable k.  Python driver RSS
    measured FLAT across a k=10^4 fit where the collected tier's
    round-trip grows with k (SCALE.md r13).

    Checkpoint hygiene (r13 advice): each iteration's new centroid table
    materializes EAGERLY, then the PREVIOUS iteration's checkpointed
    blocks are unpersisted explicitly — without that, a fit leaves
    n_iter+1 checkpointed k×dim tables on executors until ContextCleaner
    happens to GC the dropped references (~300 MB leaked per fit at the
    k=50k × d=768 operating point in long-lived sessions).  Only the
    final returned table keeps its blocks (callers consume it)."""
    from pyspark.sql.window import Window

    emb = _drop_degenerate_vectors(emb, vec_col)
    seed = (
        emb.select(
            F.col(id_col),
            F.transform(
                F.col(vec_col).cast("array<double>"),
                lambda x: F.round(x, round_dp),
            ).alias("centroid"),
        )
        .orderBy(id_col)
        .limit(k)
    )
    # k rows total, so the global row_number window is a single bounded
    # partition — same 0..k-1-in-id-order labels as the collected tier
    cents = seed.select(
        (F.row_number().over(Window.orderBy(id_col)) - 1).alias("c_label"),
        "centroid",
    ).localCheckpoint()
    if cents.limit(1).count() == 0:
        # empty/all-degenerate corpus: the collected tier's guard, same
        # empty table out
        return cents
    for _ in range(n_iter):
        assigned = classify_nearest_centroid(
            emb,
            cents,
            vec_col=vec_col,
            id_cols=(id_col, vec_col),
            round_dp=round_dp,
        )
        prev = cents
        cents = label_centroids(
            assigned,
            vec_col=vec_col,
            label_col="predicted_label",
            round_dp=round_dp,
        ).select(
            F.col("c_label").cast("int").alias("c_label"), "centroid"
        ).localCheckpoint()
        # the new table is materialized (eager checkpoint), so the
        # previous iteration's blocks are dead weight — free them now
        reuse.release(prev)
    return cents


def _drop_degenerate_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """The semantic family's shared precondition filter: NULL embeddings
    and all-zero embeddings are out (no direction → cannot cluster; and
    they crash / diverge the tiers — see kmeans_centroids' contract).
    ``exists(x != 0)`` is a cheap short-circuiting projection in the same
    scan, no norm computation."""
    v = F.col(vec_col)
    return df.where(v.isNotNull() & F.exists(v, lambda x: x != F.lit(0)))


def _blas_centroid_broadcast(spark, cents: list[tuple[int, list[float]]]):
    """(cids int64 ascending, row-normalized centroid matrix) as a Spark
    broadcast — cids ascending makes numpy argmax's first-max rule equal
    the fold tier's ties-to-smallest-cluster rule."""
    import numpy as np

    cents = sorted(cents)
    cids = np.array([c for c, _ in cents], dtype=np.int64)
    C = np.stack([np.asarray(v, dtype=np.float64) for _, v in cents])
    cn = np.linalg.norm(C, axis=1)
    if (cn == 0).any():
        raise ValueError("zero-norm centroid")
    return spark.sparkContext.broadcast((cids, C / cn[:, None]))


def kmeans_assign_blas(
    emb: DataFrame,
    cents,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
) -> DataFrame:
    """BLAS/Arrow assignment under a frozen centroid set: ``(id_col,
    cluster_id, score)`` via one dgemm per Arrow batch — the SCALE tier of
    cluster assignment, exactly the cosine_topk_pandas judgment call:
    the fold tier's per-row cost is k × dim interpreted higher-order-
    function nodes (measured: the 800k × k=800 × d=16 fit spends
    190–262 s in assignment passes vs 8.7 s for this tier, zero
    assignment mismatches; scripts/semantic_scale_evidence.py), while
    one (batch × dim) @ (dim × k) matmul scores the whole batch.  Corpus
    path: zero shuffle — batches stream through mapInPandas, centroids
    ride ONE broadcast.

    Contract vs the fold tier (``classify_nearest_centroid`` /
    ``cosine_cluster_exprs``): scores rounded to ``round_dp``, ties to the
    smallest cluster id (cids ascending + numpy first-max).  NOT
    bit-promised equal: BLAS summation order differs from the fold's
    left-to-right, and numpy rounds half-even where the fold rounds
    HALF_UP — a knife-edge vector can flip.  Deterministic across runs
    either way; the fold tier remains the oracle-checkable one.
    NULL and all-zero embeddings are dropped PLAN-side (the family
    precondition — a NULL reaching np.stack would kill the Python
    worker), as are NULL ids (the cosine_topk_pandas int64-precision
    argument); the in-numpy zero-norm mask stays as defense in depth.

    ``cents``: a ``(c_label, centroid)`` DataFrame or ``[(cid, vec)]``
    list.
    """
    import numpy as np
    import pandas as pd

    # int64 id contract, validated UP FRONT (r16, advisor finding): ids
    # are coerced with astype(np.int64) and the output schema declares
    # `{id_col} long`, so a string/decimal id would die with an opaque
    # Arrow coercion error inside the Python worker.  The fold tier
    # (classify_nearest_centroid) accepts any id type.
    id_type = emb.schema[id_col].dataType.simpleString()
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"kmeans_assign_blas requires an integral id column "
            f"(int64 contract), got {id_col}: {id_type}; use the fold "
            f"tier (assign_tier='fold') for non-integer ids"
        )

    if hasattr(cents, "collect"):
        cents = [(int(r["c_label"]), list(r["centroid"])) for r in cents.collect()]
    bc = _blas_centroid_broadcast(emb.sparkSession, cents)

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
                    id_col: ids.astype(np.int64),
                    "cluster_id": cids[best].astype(np.int32),
                    "score": S[np.arange(len(best)), best],
                }
            )

    return (
        _drop_degenerate_vectors(emb.select(id_col, vec_col), vec_col)
        .where(F.col(id_col).isNotNull())
        .mapInPandas(assign, f"{id_col} long, cluster_id int, score double")
    )


def _kmeans_update_blas(
    emb: DataFrame,
    cents: list[tuple[int, list[float]]],
    vec_col: str,
    round_dp: int,
) -> list[tuple[int, list[float]]]:
    """One BLAS Lloyd iteration: assign every batch with a dgemm, combine
    per-cluster (sum-vector, count) PARTIALS inside the same mapInPandas
    pass (np.add.at — the map-side combine), then reduce the
    k × dim × n_batches partial rows with one tiny groupBy.  The corpus
    crosses the Python boundary once and never shuffles; only partials
    do.  Means rounded to ``round_dp`` like label_centroids (partial
    addition order across batches differs run to run, but 6-dp rounding
    collapses sub-ulp drift — the same stance the fold tier's partial
    aggregation already takes)."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    bc = _blas_centroid_broadcast(spark, cents)
    dim = len(cents[0][1])

    def partials(batches):
        cids, Cn = bc.value
        k = len(cids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            xn = np.linalg.norm(X, axis=1)
            ok = xn > 0
            if not ok.any():
                continue
            X = X[ok]
            best = np.argmax(
                np.round((X / xn[ok, None]) @ Cn.T, round_dp), axis=1
            )
            sums = np.zeros((k, X.shape[1]))
            np.add.at(sums, best, X)
            cnt = np.bincount(best, minlength=k)
            hit = cnt > 0
            # column-wise construction: a Python tuple loop here is
            # O(k x dim) allocations per batch per iteration — ~38M at
            # the docstring's published SemDeDup operating point
            # (k=50k, d=768), dwarfing the dgemm (r12 review)
            d = X.shape[1]
            nh = int(hit.sum())
            yield pd.DataFrame(
                {
                    "cluster_id": np.repeat(
                        cids[hit], d
                    ).astype(np.int32),
                    "dim": np.tile(np.arange(d, dtype=np.int32), nh),
                    "s": sums[hit].ravel(),
                    "c": np.repeat(cnt[hit], d).astype(np.int64),
                }
            )

    part = _drop_degenerate_vectors(emb.select(vec_col), vec_col).mapInPandas(
        partials, "cluster_id int, dim int, s double, c long"
    )
    per_dim = (
        part.groupBy("cluster_id", "dim")
        .agg(F.round(F.sum("s") / F.sum("c"), round_dp).alias("m"))
        .groupBy("cluster_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "m"))),
                lambda s: s["m"],
            ).alias("centroid")
        )
        .collect()
    )
    out = sorted((int(r["cluster_id"]), list(r["centroid"])) for r in per_dim)
    if not all(len(v) == dim for _, v in out):
        raise AssertionError("update produced a malformed centroid")
    return out


def cosine_cluster_exprs(
    vec: Column,
    cents: list[tuple[int, list[float]]],
    round_dp: int = 6,
    vec_norm: Column | None = None,
) -> dict:
    """``(cluster_id, score)`` assignment EXPRESSIONS against LITERAL
    centroids — ``classify_nearest_centroid``'s exact contract (6-dp
    rounded argmax, ties to the smallest cluster id) with the centroid
    table baked into the expression tree instead of riding a broadcast
    cross join.  Streaming needs this form: a pure projection is
    stateless and legal on a stream side where a cross join is not; it
    is also what a stored-centroid deployment evaluates (the IVF probes
    use the same literal-expression pattern, _probe_clusters).

    Centroid norms are precomputed in Python with the SAME operation
    order as ``l2_norm``'s fold (acc + x·x left-to-right, then sqrt) —
    IEEE-identical doubles, so scores match the broadcast tier
    bit-for-bit.  Cost: k × dim literal tree per evaluation site; fine
    for the k of a dedup fit, same budget as the IVF probe expression.
    """
    import math

    def _norm(c: list[float]) -> float:
        acc = 0.0
        for x in c:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    # hoist the row's own norm: without it the fold re-evaluates once per
    # centroid (k re-traversals of the vector per row)
    vn = vec_norm if vec_norm is not None else l2_norm(vec)
    scored = F.array(
        *[
            F.struct(
                F.round(
                    cosine_with_norms(
                        vec,
                        lit_double_array(c),
                        vn,
                        F.lit(_norm(c)),
                    ),
                    round_dp,
                ).alias("score"),
                F.lit(-int(cid)).alias("neg_label"),
            )
            for cid, c in cents
        ]
    )
    m = F.array_max(scored)
    return {"cluster_id": -m["neg_label"], "score": m["score"]}


def kmeans_assign(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    round_dp: int = 6,
    assign_tier: str = "fold",
) -> DataFrame:
    """Cluster every row under a ``kmeans_centroids`` fit:
    ``(id_col, cluster_id, score)`` with the same rounded-argmax contract.
    The corpus-side cost is one extra zero-shuffle assignment pass.
    ``assign_tier="blas"`` uses the Arrow/dgemm pass for both the fit and
    the final assignment (see kmeans_centroids; scale tier, not the
    oracle one)."""
    cents = kmeans_centroids(
        emb, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col,
        round_dp=round_dp, assign_tier=assign_tier,
    )
    emb = _drop_degenerate_vectors(emb, vec_col)
    if assign_tier == "blas":
        return kmeans_assign_blas(
            emb, cents, vec_col=vec_col, id_col=id_col, round_dp=round_dp
        )
    return classify_nearest_centroid(
        emb, cents, vec_col=vec_col, id_cols=(id_col,), round_dp=round_dp
    ).select(
        id_col,
        F.col("predicted_label").alias("cluster_id"),
        "score",
    )


def _batch_topk_rows(ids, qids, scores_qb, k: int):
    """Per-batch partial top-k per query for Arrow scoring tiers: top-k is
    a monoid, so emitting each batch's k best per query (instead of every
    scored pair) leaves the final window's answer bit-identical while
    cutting Python→JVM rows from n_batch×n_queries to n_queries×k.
    Self-pairs (id == query id) are masked so they can't consume a slot,
    and in-batch ties are broken by the exact (score desc, id asc) rule
    the final window uses — including ALL ties at the k-th score before
    ordering, so the deterministic tiebreak never loses a candidate.

    NULL-id and non-finite parity with the replaced SQL filter: Arrow
    hands a nullable int id column to pandas as float64 with NaN, and
    ``NaN != qid`` is True — so without an explicit finiteness mask a
    NULL-id corpus row would pass the self-pair mask here even though the
    old ``F.col(id) != F.col(query_id)`` predicate dropped it
    (NULL-comparison semantics).  A NaN score is worse: NaN sorts last
    under np.partition, so a single NaN candidate can make the k-th
    threshold NaN and ``vals >= NaN`` all-False — silently dropping every
    candidate for that query in the batch.  Both are excluded up front.

    ``scores_qb`` is (n_queries, n_batch); returns (ids, qids, scores)
    arrays or None if nothing qualifies."""
    import numpy as np

    # one batch-wide validity mask: finite ids (NaN = NULL after Arrow)
    ids_ok = (
        np.isfinite(ids)
        if np.issubdtype(ids.dtype, np.floating)
        else np.ones(len(ids), dtype=bool)
    )
    sel_i, sel_q, sel_s = [], [], []
    for qi, qid in enumerate(qids):
        col = scores_qb[qi]
        cand_idx = np.nonzero(ids_ok & np.isfinite(col) & (ids != qid))[0]
        if len(cand_idx) == 0:
            continue
        if len(cand_idx) > k:
            vals = col[cand_idx]
            kth = np.partition(vals, len(vals) - k)[len(vals) - k]
            cand_idx = cand_idx[vals >= kth]
        order = np.lexsort((ids[cand_idx], -col[cand_idx]))[:k]
        chosen = cand_idx[order]
        # surviving ids are finite by the mask above; emit int64 even when
        # Arrow delivered a NaN-carrying (hence float64) id column
        sel_i.append(ids[chosen].astype(np.int64))
        sel_q.append(np.full(len(chosen), qid, dtype=np.int64))
        sel_s.append(col[chosen])
    if not sel_i:
        return None
    return (
        np.concatenate(sel_i),
        np.concatenate(sel_q),
        np.concatenate(sel_s),
    )


def cosine_topk_pandas(
    queries: DataFrame,
    emb: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Arrow-vectorized exact top-k: the same semantics as
    ``cosine_topk_bruteforce``, scored by a numpy matrix multiply inside
    ``mapInPandas`` instead of per-element Catalyst folds.

    WHY THIS EXISTS: at d=64 the codegen fold wins (no Python hop), but at
    d=1024+ the fold is ~d expression nodes per pair while BLAS scores a
    whole Arrow batch against all queries in one dgemm — this is the
    production scoring path for wide embeddings, and the judge of when to
    cross the Python boundary: ONLY with Arrow batches + vectorized math,
    never row-at-a-time.

    Scale shape: the query set is SMALL by contract (same contract as the
    broadcast in the exact tier); it ships to executors ONCE as a
    pre-normalized numpy matrix via a Spark broadcast variable.  The
    corpus streams through as Arrow batches — zero corpus shuffle for
    scoring; the only shuffle is the tiny per-query top-k window.
    Zero-norm corpus vectors are dropped (the fold tier scores them NULL,
    which top-k also never surfaces).

    Map-side top-k (r8): top-k is a monoid — the global top-k equals the
    top-k of per-batch top-ks — so each Arrow batch emits only its k best
    rows PER QUERY (self-pairs masked, ties broken by the same
    (score desc, id asc) rule the final window uses, so output is
    bit-identical).  Before this, every scored pair rode Arrow back to
    the JVM and through the window: at 500k docs × 100 queries that was
    50M rows serialized to rank 1,000 — profiled at ~135 of the tier's
    141 s.  After: rows returned = n_batches × n_queries × k.
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).cast("array<double>").alias("_qv")
    ).collect()
    if not q_rows:
        raise ValueError("empty query set")
    qids = np.array([r["_qid"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["_qv"], dtype=np.float64) for r in q_rows])
    qn = np.linalg.norm(Q, axis=1)
    if (qn == 0).any():
        raise ValueError("zero-norm query vector")
    Qn = Q / qn[:, None]
    bc = emb.sparkSession.sparkContext.broadcast((qids, Qn))

    out_schema = f"{id_col} long, {query_id_col} long, score double"

    def score(batches):
        b_qids, b_Q = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            cn = np.linalg.norm(C, axis=1)
            ok = cn > 0
            C, ids, cn = C[ok], pdf[id_col].to_numpy()[ok], cn[ok]
            if len(ids) == 0:
                continue
            S = (C @ b_Q.T) / cn[:, None]
            picked = _batch_topk_rows(ids, b_qids, S.T, k)
            if picked is None:
                continue
            yield pd.DataFrame(
                {id_col: picked[0], query_id_col: picked[1], "score": picked[2]}
            )

    # NULL ids are dropped PLAN-side, not in numpy: a single NULL in an
    # Arrow batch turns the whole pandas id column float64, where ids
    # above 2^53 lose precision — corrupting emitted ids and letting
    # distinct large ids alias through the self-pair mask.  Filtering
    # before the Python boundary keeps the column int64 end-to-end (the
    # fold tier's != predicate drops NULL ids anyway); the numpy
    # finiteness mask in _batch_topk_rows stays as defense in depth.
    scored = (
        emb.select(id_col, vec_col)
        .where(F.col(id_col).isNotNull())
        .mapInPandas(score, schema=out_schema)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def _probe_clusters(q_col: str, centers: list[list[float]], n_probe: int) -> Column:
    """Array of the ``n_probe`` centroid ids nearest to the normalized
    query vector in column ``q_col`` — centroids as plan literals,
    ranking as an array_sort of (distance², id) structs (same expression
    cosine_topk_ivf uses).

    r16: the expression is assembled as ONE ``F.expr`` SQL string instead
    of nested Column operations.  The tree is the same (literal centroid
    arrays, zip_with fold, struct sort), but the Column form issued one
    py4j round trip per centroid COMPONENT — n_clusters × dim ≈ 512
    driver calls, measured 0.7-0.9 s of every stored-probe invocation's
    build time at k=8, d=64 — where the string parses JVM-side in one."""
    structs = ", ".join(
        "named_struct('d', aggregate(zip_with(`%s`, array(%s), "
        "(x, y) -> (x - y) * (x - y)), 0.0D, (acc, x) -> acc + x), 'c', %d)"
        % (q_col, ", ".join(_sql_double_literal(v) for v in c), i)
        for i, c in enumerate(centers)
    )
    return F.expr(
        f"transform(slice(array_sort(array({structs})), 1, {int(n_probe)}), "
        f"s -> s.c)"
    )


def build_ivf_index(
    candidates: DataFrame,
    path: str,
    n_clusters: int = 16,
    seed: int = 42,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
    train_fraction: float = 1.0,
    precomputed_centroids: list[list[float]] | None = None,
) -> None:
    """Persist an IVF index: train the KMeans coarse quantizer, assign the
    corpus, and write

    - ``<path>/centroids.parquet`` — (centroid_id, center array<double>):
      tiny, read whole at query time;
    - ``<path>/lists.parquet/_cluster=<c>/`` — the corpus Hive-partitioned
      by assigned cluster, each row carrying its precomputed L2 norm.

    The point of STORING the index (vs cosine_topk_ivf's in-session build)
    is amortization and layout: training runs once per corpus version, and
    the on-disk partitioning turns each probe into a PRUNED read — a query
    batch touches only ``n_probe`` directories per query (union pushed as
    a static ``isin`` partition filter by query_ivf_index), which is the
    inverted-list promise realized at the file-listing level.  At 100 TB
    append-only corpora, new vectors append to their list's directory
    without retraining (assign via the stored centroids); retrain on drift.

    ``train_fraction`` < 1 trains the quantizer on a seeded sample (see
    cosine_topk_ivf) — at index-build scale this is the norm: the
    quantizer needs ~hundreds of points per centroid, not the corpus.
    Assignment (and therefore the stored lists) still covers every row.

    ``precomputed_centroids`` skips KMeans entirely and assigns every row
    to the euclidean-nearest of the GIVEN centroids (the frozen-quantizer
    rebuild: re-laying out / compacting an index after many appends, or
    building a fresh index that must stay probe-compatible with an
    existing one — same centroids ⇒ same list boundaries ⇒ identical
    probe results).  ``n_clusters``/``seed``/``train_fraction`` are
    ignored in that mode.
    """
    spark = candidates.sparkSession
    cand_n = candidates.withColumn("_cn", l2_norm(F.col(cand_vec))).withColumn(
        "_nv", l2_normalize(F.col(cand_vec), F.col("_cn"))
    )
    if precomputed_centroids is not None:
        centers_list = [[float(v) for v in c] for c in precomputed_centroids]
        assigned = _assign_nearest_centroid(cand_n, centers_list).drop("_nv")
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        with_feat = cand_n.withColumn("features", array_to_vector(F.col("_nv")))
        train_set = _quantizer_train_set(with_feat, n_clusters, train_fraction, seed)
        model = KMeans(k=n_clusters, seed=seed).fit(train_set)
        assigned = (
            model.transform(with_feat)
            .withColumnRenamed("prediction", "_cluster")
            .drop("features", "_nv")
        )
        centers_list = [list(map(float, c)) for c in model.clusterCenters()]
    centers = [(i, c) for i, c in enumerate(centers_list)]
    spark.createDataFrame(
        centers, "centroid_id int, center array<double>"
    ).coalesce(1).write.parquet(f"{path}/centroids.parquet")
    assigned.repartition(F.col("_cluster")).write.partitionBy("_cluster").parquet(
        f"{path}/lists.parquet"
    )


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
) -> None:
    """Append vectors to a stored IVF index WITHOUT retraining — the
    index-maintenance half of the train-once/query-many contract
    (reference parity anchor: none — this is the LLM-pipeline extension's
    own deployment surface; FAISS `add` after `train` is the public
    precedent).

    Each new vector is assigned to the euclidean-nearest of the STORED
    centroids (the same metric KMeans assignment minimizes, evaluated by
    `_assign_nearest_centroid` — Arrow-batched BLAS, one broadcast of the
    centroid matrix, zero shuffle), then appended into its list's Hive
    partition directory.  The centroids file is untouched, so every
    existing and future probe sees one consistent quantizer; probes after
    an append remain planning-time partition-pruned because the layout is
    unchanged — new part-files land INSIDE the `_cluster=<c>` directories.

    Parity contract (pytest-pinned on the shipped data): build(n) then
    append(m) answers probes identically to build(n+m) under the same
    frozen centroids (`precomputed_centroids=` on build_ivf_index).
    Appending shifts list SIZES but never list boundaries.  One honest
    caveat: a KMeans-trained build assigns via MLlib's transform while
    this append and the frozen rebuild share `_assign_nearest_centroid`
    (Arrow/BLAS) — for a vector whose two nearest centroids are within
    float rounding of equidistant, the two implementations may round the
    argmin differently and file it in either list.  That is an
    IVF recall nuance (the vector sits on a cell boundary; any probe set
    covering both cells finds it), not a correctness loss — the index is
    approximate by contract — and it cannot occur between append and
    query, which share one expression.  When drift accumulates (centroids
    no longer near the data's true clusters, recall decays), retrain by
    rebuilding — ``recall_gap`` is the schedulable monitoring signal
    (measure on held-out new-data queries against a build-time baseline;
    retrain when the gap exceeds ~0.05 per SCALE.md's measured drift
    curve; moderate drift can be bridged by raising ``n_probe`` 2-4x
    until the next scheduled retrain).

    Ids are the caller's uniqueness contract, as in build: a re-appended
    id would surface twice in probe results (the store is append-only and
    never dedups).
    """
    spark = new_vectors.sparkSession
    centers = _read_stored_centroids(spark, path)
    cand_n = new_vectors.withColumn("_cn", l2_norm(F.col(cand_vec))).withColumn(
        "_nv", l2_normalize(F.col(cand_vec), F.col("_cn"))
    )
    assigned = _assign_nearest_centroid(cand_n, centers).drop("_nv")
    assigned.repartition(F.col("_cluster")).write.mode("append").partitionBy(
        "_cluster"
    ).parquet(f"{path}/lists.parquet")


def _assign_nearest_centroid(df: DataFrame, centers: list[list[float]]) -> DataFrame:
    """``_cluster`` = euclidean-nearest centroid id for every row's
    NORMALIZED vector (column ``_nv``), Arrow-batched numpy: one
    ``X @ C.T`` per batch with the |c|²/2 correction (argmin over
    ``half|c|² − x·c`` ≡ argmin squared distance for fixed |x|), ties to
    the lowest centroid id (np.argmin first-occurrence — the same
    tiebreak as the `_probe_clusters` struct sort).

    This is corpus-side assignment's scale path: a literal zip_with fold
    over nlist centroids compiles nlist×d expression nodes per row
    (measured: ~1 MB task binaries and straggler tasks at nlist=256,
    d=64, 500k rows), while BLAS scores a whole Arrow batch against all
    centroids at once — the same boundary-crossing rule as
    cosine_topk_pandas.  Queries keep the literal expression
    (`_probe_clusters`): a query batch is small by contract and stays
    JVM-side.  The centroid matrix ships ONCE as a broadcast variable.

    append_ivf_index and the frozen rebuild SHARE this one implementation,
    so their assignments agree bit-for-bit (the build-time KMeans
    transform remains a separate implementation — see append_ivf_index's
    float-boundary caveat)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, StructField, StructType

    C = np.asarray(centers, dtype=np.float64)
    half_c2 = 0.5 * np.einsum("kd,kd->k", C, C)
    bc = df.sparkSession.sparkContext.broadcast((C, half_c2))
    out_schema = StructType(
        list(df.schema.fields) + [StructField("_cluster", IntegerType(), False)]
    )

    def assign(batches):
        Cb, hb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["_nv"].to_numpy()).astype(np.float64)
            pdf = pdf.copy()
            pdf["_cluster"] = np.argmin(hb[None, :] - X @ Cb.T, axis=1).astype(
                np.int32
            )
            yield pdf

    return df.mapInPandas(assign, schema=out_schema)


_CENTROID_MEMO = reuse.Memo(16, release=None)


def _read_stored_centroids(spark, path: str) -> list[list[float]]:
    """The stored quantizer of a build_ivf_index layout, ordered by
    centroid_id — the ONE reader append_ivf_index and query_ivf_index
    share, so append-side assignment and query-side probing can never
    disagree on the centroid order or dtype.

    Memoized per (SparkContext, path, directory fingerprint) — the
    context, not the session, so the fresh session wrapper foreachBatch
    hands each micro-batch (stream_sim_topk_batch_prober) hits too.  The
    quantizer is immutable for a given index build (appends touch only
    the lists directory), so query-many serving was paying a file listing
    + a one-job parquet read + collect of the SAME handful of rows on
    every probe batch — measured 0.3-0.5 s of the per-call stored-probe
    cost.
    The fingerprint (name+size of the centroid part files — a
    listing-only call, no job) invalidates the memo the moment a rebuild
    rewrites the quantizer, so a stale cache cannot serve old
    centroids."""
    from bulkfhirloader_spark.fsutil import fs_dir_fingerprint

    cdir = f"{path}/centroids.parquet"

    def read() -> list[list[float]]:
        rows = sorted(
            (r["centroid_id"], r["center"])
            for r in spark.read.parquet(cdir).collect()
        )
        return [[float(v) for v in c] for _i, c in rows]

    return _CENTROID_MEMO.get_or_build(
        spark, (cdir, fs_dir_fingerprint(spark, cdir)), read
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
    dedupe_ids: bool = False,
) -> DataFrame:
    """Probe a stored IVF index (build_ivf_index layout): rank the stored
    centroids per query (literal-array expression — the centroids file is
    a handful of rows, collected once), push the UNION of probed cluster
    ids down as a static partition filter on the lists read (planning-time
    pruning — untouched lists are never listed into tasks), then exact
    cosine inside the probed lists and a per-query top-k window.

    The query set is small by contract (it rides a broadcast); collecting
    its probe union is driver-side work over queries × n_probe ints.

    ``dedupe_ids=True`` (r12, closing the append-crash caveat in
    append_ivf_index's docstring / SCALE.md crash table row 3): a kill
    inside an append's commit window followed by a blind re-append leaves
    duplicate id rows in the lists, which an exact probe then surfaces as
    duplicate results.  The opt-in keeps ONE row per (query, candidate
    id) — the max score — via a groupBy over the candidate set before the
    top-k window: candidates are bounded by queries × probed-list sizes
    (they already fit a broadcast join), so the extra Exchange is tiny,
    map-side-combined, and only paid when opted in.  Top-k then counts k
    DISTINCT ids.  Off by default: the recovery discipline (re-append
    only after verifying the commit never landed) makes duplicates
    impossible, and the default plan stays byte-identical."""
    centers = _read_stored_centroids(spark, path)
    q_n = queries.withColumn("_qn", l2_norm(F.col(query_vec))).withColumn(
        "_nv", l2_normalize(F.col(query_vec), F.col("_qn"))
    )
    qp = q_n.select(
        F.col(query_id),
        F.col(query_vec),
        F.col("_qn"),
        F.explode(_probe_clusters("_nv", centers, n_probe)).alias("_cluster"),
    )
    probed = sorted({r["_cluster"] for r in qp.select("_cluster").distinct().collect()})
    lists = spark.read.parquet(f"{path}/lists.parquet").where(
        F.col("_cluster").isin(probed)
    )
    joined = lists.join(F.broadcast(qp), "_cluster").filter(
        F.col(query_id) != F.col(cand_id)
    )
    scored = joined.select(
        F.col(query_id),
        F.col(cand_id),
        cosine_with_norms(
            F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
        ).alias("score"),
    )
    if dedupe_ids:
        scored = scored.groupBy(query_id, cand_id).agg(F.max("score").alias("score"))
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def recall_gap(
    spark: SparkSession,
    path: str,
    holdout_queries: DataFrame,
    k: int = 10,
    n_probe: int = 8,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    cand_id: str = "vec_id",
    cand_vec: str = "embedding",
    baseline_recall: float | None = None,
) -> dict:
    """Measure a stored IVF index's recall@k against EXACT brute-force
    over its own stored corpus, for a held-out query batch — the
    schedulable form of the drift monitor `scripts/ann_scale_evidence.py
    --append-drift` runs by hand (r10 verdict, Next round #5), sharing
    that protocol exactly: approx = query_ivf_index at (k, n_probe);
    exact = cosine_topk_pandas (BLAS) over every stored list row; per
    query, recall = |approx ∩ exact| / |exact|; reported recall is the
    mean over queries with a non-empty exact set.

    Returns ``{"recall", "gap", "n_queries", "k", "n_probe"}``.  With
    ``baseline_recall`` given, ``gap = baseline_recall - recall`` — the
    measured retrain signal.  Operator schedule (SCALE.md Round-10 drift
    table): right after build/retrain, record
    ``recall_gap(...)["recall"]`` on a held-out sample of BUILD-TIME
    queries as the baseline; after each append batch, re-measure on
    held-out NEW-DATA queries with ``baseline_recall=`` that number, and
    retrain when gap exceeds ~0.05 (measured to sit between 2 and 4
    noise-σ of center drift; at moderate drift, doubling ``n_probe``
    bridges until the next scheduled retrain, but new-territory drift
    structurally needs new centroids).  Without a baseline, ``gap`` is
    ``1 - recall`` — the deficit against exact, which includes the
    index's inherent probe miss rate, NOT drift alone; threshold the
    baselined form.

    Cost shape: the holdout batch is small by contract (it rides the
    same broadcast as every query path); exact ground truth is one
    BLAS-batched full scan of the stored lists — a bounded, scheduled
    monitoring job, not a per-query path.  Both sides exclude self-pairs
    (``query_id != vec_id``) identically, so id-space overlap between
    holdout and corpus cannot skew the comparison.
    """
    approx = query_ivf_index(
        spark,
        path,
        holdout_queries,
        k=k,
        n_probe=n_probe,
        query_id=query_id,
        cand_id=cand_id,
        query_vec=query_vec,
        cand_vec=cand_vec,
    ).collect()
    corpus = spark.read.parquet(f"{path}/lists.parquet").select(
        F.col(cand_id), F.col(cand_vec)
    )
    q_as_corpus = holdout_queries.select(
        F.col(query_id).alias(cand_id), F.col(query_vec).alias(cand_vec)
    )
    exact = cosine_topk_pandas(
        q_as_corpus,
        corpus,
        k=k,
        id_col=cand_id,
        vec_col=cand_vec,
        query_id_col=query_id,
    ).collect()
    exact_sets: dict = {}
    for r in exact:
        exact_sets.setdefault(r[query_id], set()).add(r[cand_id])
    approx_sets: dict = {}
    for r in approx:
        approx_sets.setdefault(r[query_id], set()).add(r[cand_id])
    recalls = [
        len(approx_sets.get(q, set()) & cands) / len(cands)
        for q, cands in exact_sets.items()
    ]
    if not recalls:
        # No query had a non-empty exact set (empty holdout, or every
        # holdout id only self-matched).  Returning recall=0/gap=1 here
        # would read to a scheduled monitor as catastrophic drift and
        # trigger a spurious retrain (r11 advisor finding) — report the
        # no-measurement case as None so a threshold comparison fails
        # loudly instead of firing.
        return {
            "recall": None,
            "gap": None,
            "n_queries": 0,
            "k": k,
            "n_probe": n_probe,
        }
    recall = sum(recalls) / len(recalls)
    gap = (baseline_recall - recall) if baseline_recall is not None else 1.0 - recall
    return {
        "recall": recall,
        "gap": gap,
        "n_queries": len(recalls),
        "k": k,
        "n_probe": n_probe,
    }


def pq_train_codebooks(
    candidates: DataFrame,
    m: int = 8,
    ksub: int = 16,
    seed: int = 42,
    cand_vec: str = "embedding",
    n_train: int = 16384,
    n_iter: int = 25,
):
    """Train product-quantization codebooks: split the L2-normalized vector
    space into ``m`` contiguous subspaces and Lloyd-k-means each with
    ``ksub`` centroids on a DRIVER-SIDE SAMPLE — seeded numpy, so the
    codebooks are deterministic given the corpus.  Returns an
    (m, ksub, dim/m) float64 numpy array.

    Sample-to-driver training is the production norm for PQ (k-means needs
    thousands of points per centroid, not the population — FAISS trains on
    a capped sample too): the collect is ≤ n_train·dim doubles (~8 MB at
    the default), one bounded job at any corpus size.  Rows are sampled in
    ascending md5-of-vector order, so the draw is content-deterministic and
    partitioning-independent.  An earlier MLlib-per-subspace variant was
    correct but paid m distributed fits + giant literal-centroid
    expression trees — ~100s at test scale where this is ~1s."""
    import numpy as np

    dim = len(candidates.select(cand_vec).first()[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    d = dim // m
    rows = (
        candidates.select(F.col(cand_vec).cast("array<double>").alias("_v"))
        .orderBy(F.md5(F.col("_v").cast("string")).asc())
        .limit(n_train)
        .collect()
    )
    X = np.stack([np.asarray(r["_v"], dtype=np.float64) for r in rows])
    norms = np.linalg.norm(X, axis=1)
    X = X[norms > 0] / norms[norms > 0, None]
    books = np.empty((m, ksub, d), dtype=np.float64)
    for i in range(m):
        Xi = X[:, i * d : (i + 1) * d]
        rng = np.random.RandomState(seed + i)
        C = Xi[rng.choice(len(Xi), size=ksub, replace=False)].copy()
        for _ in range(n_iter):
            # assignment by expanded distance (argmax of x·c − ½|c|²)
            assign = np.argmax(Xi @ C.T - 0.5 * (C * C).sum(axis=1), axis=1)
            for c in range(ksub):
                mask = assign == c
                if mask.any():
                    C[c] = Xi[mask].mean(axis=0)
                # empty cluster: keep the previous centroid (deterministic)
        books[i] = C
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    vec_col: str = "embedding",
    code_col: str = "pq_code",
) -> DataFrame:
    """Encode vectors to ``m`` small-int codes (nearest centroid per
    subspace over the L2-normalized vector) — 64 float32 dims become m
    bytes (m=16, ksub=16: 16× memory compression), the stored
    representation an ADC scan reads instead of the raw corpus.

    Arrow-vectorized pandas_udf (a sanctioned Python boundary, PLANS.md):
    per batch, each subspace's assignment is ONE matrix multiply + argmax —
    the same judgment call as cosine_topk_pandas, because 256
    literal-centroid distance folds per row is where Catalyst expression
    trees stop being the fast path.  Zero-norm vectors encode against the
    raw zeros (code 0s) rather than erroring — storage must be total."""
    import numpy as np
    import pandas as pd

    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, d = books.shape
    half_c2 = 0.5 * (books * books).sum(axis=2)  # (m, ksub)

    @F.pandas_udf("array<int>")
    def enc(col: pd.Series) -> pd.Series:
        X = np.stack(col.to_numpy()).astype(np.float64)
        n = np.linalg.norm(X, axis=1)
        n[n == 0] = 1.0
        Xn = X / n[:, None]
        codes = np.empty((len(X), m), dtype=np.int32)
        for i in range(m):
            Xi = Xn[:, i * d : (i + 1) * d]
            codes[:, i] = np.argmax(Xi @ books[i].T - half_c2[i], axis=1)
        return pd.Series(list(codes))

    return df.withColumn(code_col, enc(F.col(vec_col)))


def cosine_topk_pq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 50,
    seed: int = 42,
    codebooks=None,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
) -> DataFrame:
    """PQ-ADC top-k: asymmetric-distance scan over PQ codes proposes
    ``n_candidates`` per query, exact cosine re-ranks them to the final
    top-``k`` — the memory-bound ANN tier (IVF bounds COMPUTE by probing
    few lists; PQ bounds MEMORY by scanning m-byte codes instead of raw
    vectors; production systems compose both as IVF-PQ).

    Scale shape: queries are small by contract (cosine_topk_pandas's
    contract) and ship ONCE as a broadcast (query-id, LUT) tensor, where
    LUT[q,i,c] = q̂_sub_i · centroid_{i,c} is precomputed on the driver;
    the corpus streams through ONE mapInPandas that fuses encode + LUT
    gather — per batch, scoring all queries is m numpy take()s and adds,
    no vector arithmetic, and the corpus never shuffles.  (A deployment
    with STORED codes — pq_encode's output table — runs the same scan
    minus the encode line.)  The top-n_candidates cut is a per-query
    window over (id, approx) pairs; only surviving ids' true vectors are
    fetched (narrow id join) for the exact JVM-fold re-rank, which is what
    keeps the output hash-deterministic.  Recall depends on n_candidates
    covering the true top-k in ADC order — measured and margin-pinned in
    the registry/pytest, the same protocol as the simhash Hamming radius."""
    import numpy as np
    import pandas as pd

    if codebooks is None:
        codebooks = pq_train_codebooks(
            candidates, m=m, ksub=ksub, seed=seed, cand_vec=cand_vec
        )
    books = np.asarray(codebooks, dtype=np.float64)
    m, ksub, d = books.shape
    half_c2 = 0.5 * (books * books).sum(axis=2)

    q_rows = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    ).collect()
    if not q_rows:
        raise ValueError("empty query set")
    qids = np.array([r["_qid"] for r in q_rows], dtype=np.int64)
    Q = np.stack([np.asarray(r["_qv"], dtype=np.float64) for r in q_rows])
    qn = np.linalg.norm(Q, axis=1)
    if (qn == 0).any():
        raise ValueError("zero-norm query vector")
    Qn = Q / qn[:, None]
    # LUT[q, i, c] = q̂_sub_i · centroid_{i,c}
    lut = np.einsum("qic,kic->qik", Qn.reshape(len(Q), m, d), books.transpose(1, 0, 2))
    bc = candidates.sparkSession.sparkContext.broadcast((qids, lut))

    out_schema = f"{cand_id} long, {query_id} long, _approx double"

    def scan(batches):
        b_qids, b_lut = bc.value  # (nq,), (nq, m, ksub)
        nq = len(b_qids)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[cand_vec].to_numpy()).astype(np.float64)
            n = np.linalg.norm(X, axis=1)
            n[n == 0] = 1.0
            Xn = X / n[:, None]
            nb = len(X)
            codes = np.empty((nb, m), dtype=np.int64)
            for i in range(m):
                Xi = Xn[:, i * d : (i + 1) * d]
                codes[:, i] = np.argmax(Xi @ books[i].T - half_c2[i], axis=1)
            S = np.zeros((nq, nb))
            for i in range(m):
                S += b_lut[:, i, :][:, codes[:, i]]
            ids = pdf[cand_id].to_numpy()
            # map-side partial cut at n_candidates (same monoid argument
            # as cosine_topk_pandas — the _arank window's answer over
            # batch winners is identical, and self-pairs are masked here
            # instead of by a post-hoc filter)
            picked = _batch_topk_rows(ids, b_qids, S, n_candidates)
            if picked is None:
                continue
            yield pd.DataFrame(
                {cand_id: picked[0], query_id: picked[1], "_approx": picked[2]}
            )

    scanned = candidates.select(cand_id, cand_vec).mapInPandas(
        scan, schema=out_schema
    )
    wa = Window.partitionBy(query_id).orderBy(F.desc("_approx"), F.col(cand_id))
    proposed = (
        scanned.withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= n_candidates)
        .select(query_id, cand_id)
    )

    cand_vecs = candidates.select(
        F.col(cand_id), F.col(cand_vec), l2_norm(F.col(cand_vec)).alias("_cn")
    )
    q_exact = queries.select(
        F.col(query_id),
        F.col(query_vec),
        l2_norm(F.col(query_vec)).alias("_qn"),
    )
    rerank = (
        proposed.join(cand_vecs, cand_id)
        .join(F.broadcast(q_exact), query_id)
        .select(
            F.col(query_id),
            F.col(cand_id),
            cosine_with_norms(
                F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def cosine_topk_ivfpq(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    n_clusters: int = 8,
    n_probe: int = 8,
    m: int = 8,
    ksub: int = 16,
    n_candidates: int = 50,
    seed: int = 42,
    query_id: str = "query_id",
    cand_id: str = "vec_id",
    query_vec: str = "query_vec",
    cand_vec: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the production ANN composition — an IVF coarse quantizer
    bounds COMPUTE (each query touches only its ``n_probe`` nearest
    centroids' lists) and PQ codes bound MEMORY (the probed lists are
    scanned as m-byte codes via an ADC lookup table, not raw vectors);
    survivors are exactly re-ranked.  This is FAISS's IVFPQ index shape
    re-expressed as a DataFrame plan.

    Scale shape: the corpus carries (id, cluster, m codes) — one KMeans
    assignment projection + one Arrow encode pass, both shuffle-free; the
    probe restriction is a broadcast join of (query, probed-cluster, LUT)
    rows, so ADC scoring inside the join is m array getItems per surviving
    pair, all JVM-side (the LUTs were computed ONCE per query on the
    driver — queries are small by contract).  Then one window keeps
    n_candidates per query and only those ids fetch true vectors for the
    exact re-rank.  At the exhaustive setting (n_probe = n_clusters,
    covering n_candidates) the result is exact — the registry's hash
    gate; the approximate dials are pytest's job."""
    import numpy as np

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    books = pq_train_codebooks(
        candidates, m=m, ksub=ksub, seed=seed, cand_vec=cand_vec
    )
    m, ksub, d = books.shape

    cand_n = candidates.withColumn("_cn", l2_norm(F.col(cand_vec))).withColumn(
        "_nv", l2_normalize(F.col(cand_vec), F.col("_cn"))
    )
    with_feat = cand_n.withColumn("features", array_to_vector(F.col("_nv")))
    model = KMeans(k=n_clusters, seed=seed).fit(with_feat)
    assigned = (
        model.transform(with_feat)
        .withColumnRenamed("prediction", "_cluster")
        .drop("features", "_nv", "_cn")
    )
    coded = pq_encode(assigned, books, vec_col=cand_vec).select(
        F.col(cand_id), "_cluster", "pq_code"
    )
    centers = np.asarray(
        [list(map(float, c)) for c in model.clusterCenters()], dtype=np.float64
    )

    q_rows = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(query_vec).cast("array<double>").alias("_qv"),
    ).collect()
    if not q_rows:
        raise ValueError("empty query set")
    spark = candidates.sparkSession
    probe_rows = []
    for r in q_rows:
        qv = np.asarray(r["_qv"], dtype=np.float64)
        qn = np.linalg.norm(qv)
        if qn == 0:
            raise ValueError("zero-norm query vector")
        qnv = qv / qn
        # nearest centroids by L2 on the normalized sphere
        d2 = ((centers - qnv) ** 2).sum(axis=1)
        probes = np.argsort(d2, kind="stable")[:n_probe]
        lut = np.einsum("id,icd->ic", qnv.reshape(m, d), books)  # (m, ksub)
        lut_list = [[float(x) for x in row] for row in lut]
        for c in probes:
            probe_rows.append((int(r["_qid"]), int(c), lut_list))
    probe_df = spark.createDataFrame(
        probe_rows, f"{query_id} long, _cluster int, _lut array<array<double>>"
    )

    approx = F.col("_lut")[0][F.col("pq_code")[0]]
    for i in range(1, m):
        approx = approx + F.col("_lut")[i][F.col("pq_code")[i]]
    scanned = (
        coded.join(F.broadcast(probe_df), "_cluster")
        .filter(F.col(query_id) != F.col(cand_id))
        .select(F.col(query_id), F.col(cand_id), approx.alias("_approx"))
    )
    wa = Window.partitionBy(query_id).orderBy(F.desc("_approx"), F.col(cand_id))
    proposed = (
        scanned.withColumn("_arank", F.row_number().over(wa))
        .filter(F.col("_arank") <= n_candidates)
        .select(query_id, cand_id)
    )

    cand_vecs = candidates.select(
        F.col(cand_id), F.col(cand_vec), l2_norm(F.col(cand_vec)).alias("_cn")
    )
    q_exact = queries.select(
        F.col(query_id), F.col(query_vec), l2_norm(F.col(query_vec)).alias("_qn")
    )
    rerank = (
        proposed.join(cand_vecs, cand_id)
        .join(F.broadcast(q_exact), query_id)
        .select(
            F.col(query_id),
            F.col(cand_id),
            cosine_with_norms(
                F.col(query_vec), F.col(cand_vec), F.col("_qn"), F.col("_cn")
            ).alias("score"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("score"), F.col(cand_id))
    return (
        rerank.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, cand_id, "score", "rank")
    )


def embedding_label_outliers(
    emb: DataFrame,
    top_frac: float = 0.05,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-space label outliers — the mislabel/noise triage pass of a
    training-data QA pipeline: per label, the ``top_frac`` fraction of
    vectors FARTHEST from their own label's centroid (squared L2).  A
    cluster of these is a labeling-process bug; scattered ones are
    candidates for relabeling or dropping.

    Determinism contract (the label_centroids precedent): centroid
    components are rounded to 6 dp BEFORE distances, so the distance is a
    fixed-order left fold over exactly-agreed doubles — bit-identical
    cross-engine — and the cutoff is RANK-based (row_number over rounded
    distance, ties by id), never a float threshold that could
    boundary-flip membership.

    Scale shape: centroids are a labels×dim aggregate (partial agg bounds
    the exchange) broadcast back; the distance is a zero-shuffle
    projection; per-label group sizes come from a tiny groupBy broadcast —
    NOT an unframed count window, which would funnel each label through
    one task; the rank window's fanout is bounded per label and carries
    (id, dist) pairs only."""
    cen = label_centroids(emb, vec_col=vec_col, label_col=label_col, round_dp=6)
    sizes = emb.groupBy(label_col).agg(F.count(F.lit(1)).alias("_n_label"))
    with_c = emb.join(
        F.broadcast(cen.withColumnRenamed("c_label", label_col)), label_col
    ).join(F.broadcast(sizes), label_col)
    dist2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col("centroid"),
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    scored = with_c.select(
        F.col(id_col),
        F.col(label_col),
        F.round(dist2, 6).alias("dist2"),
        F.ceil(F.col("_n_label") * F.lit(float(top_frac))).cast("int").alias("_k"),
    )
    w = Window.partitionBy(label_col).orderBy(F.desc("dist2"), F.col(id_col))
    return (
        scored.withColumn("outlier_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("outlier_rank") <= F.col("_k"))
        .select(id_col, label_col, "dist2", "outlier_rank")
    )
