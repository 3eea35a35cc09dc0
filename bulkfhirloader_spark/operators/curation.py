"""Training-corpus curation operators: deterministic dataset splitting,
TF-IDF term scoring, quality+language+dedup selection policy, and
token-budget shard packing.

These are the steps between "raw corpus" and "training shards" in an LLM
data pipeline.  All pure Catalyst expressions; every operator here is
deterministic (no rand()), so outputs are oracle-checkable and reruns are
reproducible — the property that matters when a 100 TB corpus is re-curated
incrementally.

Scale notes per operator:
- ``hash_split``: narrow projection, zero shuffle at any scale.
- ``tf_idf_top_terms``: explode → two keyed aggregates + one term-keyed
  join + per-doc window.  Term keys are zipfian but the heavy head terms
  carry only (term, df) rows after the partial agg — no body bytes.
- ``select_for_training``: filters + one window over source (bounded fanout).
- ``pack_token_shards``: the naive form is one GLOBAL ordered cumulative
  sum = single-partition window — a scale killer.  Implemented instead as
  the two-level prefix sum: per-bucket exclusive sums + broadcast bucket
  offsets, identical output, fully parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.functions.binding import let

from bulkfhirloader_spark.operators.text import (
    token_count_bpe_ish,
    tokens,
    tokens_sql,
)

MERSENNE_PRIME = (1 << 31) - 1
_KNUTH = 2654435761  # Knuth's multiplicative-hash constant


def split_bucket(id_col: Column, n_buckets: int = 1000) -> Column:
    """Deterministic hash bucket in [0, n_buckets) from an integer id.

    Multiplicative hashing with int64-safe arithmetic under ANSI mode:
    reduce the id mod 2^31-1 first, so (reduced * KNUTH) < 2^62.5.
    Engine-portable: DuckDB restates it with the same integer ops.
    """
    reduced = F.pmod(id_col.cast("long"), F.lit(MERSENNE_PRIME))
    return F.pmod(F.pmod(reduced * F.lit(_KNUTH), F.lit(MERSENNE_PRIME)), F.lit(n_buckets))


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    train_pct: int = 80,
    val_pct: int = 10,
) -> DataFrame:
    """Assign every row a stable train/val/test split by hashed id.

    Unlike ``df.randomSplit`` this is reproducible across runs, cluster
    sizes, and partitionings — new documents never reshuffle old ones
    between splits (the property training pipelines actually need).
    """
    b = split_bucket(F.col(id_col))
    split = (
        F.when(b < train_pct * 10, F.lit("train"))
        .when(b < (train_pct + val_pct) * 10, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return df.select(F.col(id_col), b.alias("bucket"), split.alias("split"))


def tf_idf_top_terms(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document.

    tf = in-document term count; idf = ln((N+1)/(df+1)) with df = number of
    documents containing the term.  Ties broken lexicographically so top-k
    is deterministic.  N is computed as a scalar subquery (cross join of a
    1-row aggregate — broadcast, not collected to the driver).
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n_docs))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            (
                F.col("tf")
                * F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1))
            ).alias("tf_idf"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("tf_idf"), F.col("term"))
    return (
        scored.select(
            "*", F.row_number().over(w).alias("term_rank")
        )
        .filter(F.col("term_rank") <= k)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round("tf_idf", 6).alias("tf_idf"),
            "term_rank",
        )
    )


def select_for_training(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_tokens: int = 100_000,
    min_alpha_ratio: float = 0.5,
    lang: str = "en",
    per_source_cap: int = 200,
) -> DataFrame:
    """The standard curation policy, composed from the text operators:
    quality gates (token count, alpha ratio) AND predicted language AND
    exact-dedup survivorship, then a per-source cap keeping the
    highest-quality documents (deterministic tie-break by id).

    Returns (id, source, n_tokens, alpha_ratio, source_rank) for the
    selected documents.

    Scale shape (r8, tightened r16): the quality and language features are
    PURE PROJECTIONS, so they are evaluated in the SAME corpus scan as the
    id and source columns (text.quality_exprs / text.language_pred_exprs)
    instead of the old scan-per-operator + equi-join-per-operator
    composition — that shape shuffled the full corpus twice on doc_id
    just to reattach per-row features to their own rows.  r16 (guide
    §2.4): exact-dedup survivorship is now a WINDOW over the content sha
    computed in that same scan — row_number() over (sha, id asc) == 1 is
    exactly exact_dedup's min-id-per-group survivor — instead of a
    second corpus scan + sha aggregation + id-keyed semi join.  The old
    shape cost 2 corpus scans + 2 Exchanges (sha partial agg, then — at
    any corpus too big to broadcast the survivor ids — a full shuffle of
    BOTH sides keyed by id); this one costs 1 scan + 1 Exchange of the
    narrow feature rows keyed by sha, and the rank<=1 filter compiles to
    WindowGroupLimit (map-side partial group limit), so the exchange
    carries at most one candidate row per (sha, map partition).
    Survivorship is decided BEFORE the quality gates, as before: a group
    whose min-id copy fails a gate contributes nothing (its other copies
    are not survivors), and normalize-equal twins may differ in raw-text
    features, so gating the survivor's OWN feature row is load-bearing.
    """
    from bulkfhirloader_spark.operators.dedup import ensure_parallelism
    from bulkfhirloader_spark.operators.text import (
        fused_token_feature_expr,
        normalize_text,
        quality_exprs,
    )

    qe = quality_exprs(text_col)
    # CPU-dense projection (regex tokenization, interpreted language-ID
    # lambdas, sha256): give it at least one task per core (r16 batch 3,
    # guide §2.5 "one huge unsplittable file") — a small single-split
    # parquet corpus otherwise serializes the whole feature pass onto one
    # core.  No-op at real scale (never reduces partitioning), same
    # treatment as the dedup/text CPU-dense operators.
    docs = ensure_parallelism(docs)
    # r17 (verdict #4): n_tokens and lang_pred both need the token array;
    # projected separately they re-ran regexp_extract_all per feature
    # (interpreted HOFs — no CSE).  fused_token_feature_expr tokenizes
    # ONCE; the TWO-projection shape below is load-bearing (see its
    # docstring: CollapseProject / SimplifyExtractValueOps would undo the
    # sharing if the struct were produced and consumed in one select).
    pre = docs.select(
        F.col(id_col),
        F.col("source"),
        fused_token_feature_expr(text_col).alias("_feat"),
        qe["alpha_ratio"].alias("alpha_ratio"),
        F.sha2(normalize_text(F.col(text_col)), 256).alias("_sha"),
    )
    feats = pre.select(
        F.col(id_col),
        F.col("source"),
        F.col("_feat.n_tokens").alias("n_tokens"),
        F.col("alpha_ratio"),
        F.col("_feat.lang_pred").alias("lang_pred"),
        F.col("_sha"),
    )
    # exact-dedup survivors: the min id per normalized content group,
    # as a window over the same scan (see docstring)
    w_dup = Window.partitionBy("_sha").orderBy(F.col(id_col).asc())
    gated = (
        feats.withColumn("_dup_rank", F.row_number().over(w_dup))
        .filter(F.col("_dup_rank") == 1)
        .filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("n_tokens") <= max_tokens)
            & (F.col("alpha_ratio") >= min_alpha_ratio)
            & (F.col("lang_pred") == lang)
        )
        .drop("_sha", "_dup_rank")
    )
    w = Window.partitionBy("source").orderBy(
        F.desc("n_tokens"), F.col(id_col)
    )
    return (
        gated.select("*", F.row_number().over(w).alias("source_rank"))
        .filter(F.col("source_rank") <= per_source_cap)
        .select(
            id_col,
            "source",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.round("alpha_ratio", 6).alias("alpha_ratio"),
            "source_rank",
        )
    )


def mixture_plan(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    max_epochs: float = 2.0,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Static dataset-mixture planning (the Pile / DoReMi-style step that
    precedes sampling): given target mixture ``weights`` per source and a
    total ``token_budget``, compute each source's token allocation, capped
    at ``max_epochs`` passes over what the source actually has — the
    standard guard against a high-weight/low-volume source degenerating
    into hundreds of repeat epochs.

    Per source: ``available_tokens`` (whitespace-token sum),
    ``target_tokens = floor(weight / sum(weights) * budget)``,
    ``planned_tokens = least(target, floor(max_epochs * available))``,
    ``epochs = round(planned / available, 6)``, and the unmet
    ``deficit_tokens = target - planned`` (what a re-weighting pass would
    redistribute).  ``sum(weights)`` normalizes over the PROVIDED dict —
    a weighted source absent from the corpus still claims its share (its
    plan row is absent, its budget share is the deficit the caller sees
    missing); a corpus source absent from the dict is dropped.

    Scale shape: ONE corpus scan projecting (source, n_tokens) into a
    partial-aggregated groupBy — the exchange carries one running sum per
    source — then a broadcast join against the k-row weights table.  All
    arithmetic after the sum is per-source scalar math, deterministic and
    SQL-restatable (integer floors; the one double division is identical
    IEEE ops in identical order on both engines).
    """
    from bulkfhirloader_spark.operators.text import quality_exprs

    spark = docs.sparkSession
    wsum = float(sum(weights.values()))
    if not weights or wsum <= 0.0:
        raise ValueError(
            "mixture_plan needs a non-empty weights dict with positive sum "
            f"(got sum={wsum})"
        )
    for src_name, w in sorted(weights.items()):
        # per-weight check (r12 advice): a single negative weight can hide
        # behind a positive SUM and silently plan negative target/planned
        # tokens and a meaningless epochs value
        if float(w) < 0.0:
            raise ValueError(
                f"mixture_plan weights must be >= 0; source {src_name!r} "
                f"has weight {w}"
            )
    wtab = F.broadcast(
        spark.createDataFrame(
            sorted(weights.items()), f"{source_col} STRING, weight DOUBLE"
        )
    )
    avail = (
        docs.select(
            F.col(source_col),
            quality_exprs(text_col)["n_tokens"].alias("_nt"),
        )
        .groupBy(source_col)
        .agg(F.sum("_nt").cast("long").alias("available_tokens"))
    )
    target = F.floor(
        F.col("weight") / F.lit(wsum) * F.lit(float(token_budget))
    ).cast("long")
    cap = F.floor(F.lit(float(max_epochs)) * F.col("available_tokens")).cast(
        "long"
    )
    return (
        avail.join(wtab, source_col)
        .withColumn("target_tokens", target)
        .withColumn(
            "planned_tokens", F.least(F.col("target_tokens"), cap)
        )
        .select(
            source_col,
            "available_tokens",
            "weight",
            "target_tokens",
            "planned_tokens",
            # nullif: an all-empty-text source has 0 available tokens —
            # NULL epochs, not an ANSI DIVIDE_BY_ZERO throw
            F.round(
                F.col("planned_tokens").cast("double")
                / F.nullif(
                    F.col("available_tokens").cast("double"), F.lit(0.0)
                ),
                6,
            ).alias("epochs"),
            (F.col("target_tokens") - F.col("planned_tokens")).alias(
                "deficit_tokens"
            ),
        )
    )


def decontaminate_ngram_overlap(
    corpus: DataFrame,
    eval_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents sharing any word
    n-gram with an evaluation set (the standard pretraining hygiene step —
    eval answers leaking into training data inflate benchmark scores).

    Scale shape: the eval side (benchmarks are ~10⁴–10⁶ small docs) is
    reduced to its DISTINCT shingles and broadcast; the corpus side
    explodes its shingles and inner-joins that broadcast set, so corpus
    text never shuffles and only MATCHED (id, shingle) rows reach the
    per-document aggregate.  Returns one row per contaminated corpus
    document: (id, n_shared_ngrams).

    No reference analog (the reference has no corpus operators); part of
    the SURVEY §2.10 extension surface.
    """
    from bulkfhirloader_spark.operators.dedup import word_shingles

    eval_shingles = (
        eval_docs.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("_shingle")
        )
        .distinct()
    )
    corpus_shingles = corpus.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), n)).alias("_shingle"),
    )
    return (
        corpus_shingles.join(F.broadcast(eval_shingles), "_shingle")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )


def _derive_bucket_size(
    lo: int | None, hi: int | None, floor_size: int, max_offset_rows: int
) -> int:
    """Bucket width that PROVABLY bounds the second-level offsets relation:
    buckets are id-div slots over [lo, hi], so their count is at most
    span/width + 1 — solve for width ≥ span/max_offset_rows and never go
    below the caller's floor (small corpora keep the configured width).
    Pure integer math, unit-tested against the bound directly."""
    if lo is None or hi is None:
        return floor_size
    span = int(hi) - int(lo) + 1
    needed = -(-span // max_offset_rows)  # ceil div
    return max(floor_size, needed)


def pack_token_shards(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shard_tokens: int = 10_000,
    bucket_size: int = 1 << 16,
    max_offset_rows: int = 1 << 16,
) -> DataFrame:
    """Assign documents (in id order) to fixed-token-budget training shards:
    shard_id = floor(exclusive_prefix_sum(n_tokens) / shard_tokens).

    The semantics are a GLOBAL ordered cumulative sum, but a global window
    is a single-partition sort at scale.  Implemented as the classic
    two-level prefix sum instead:
      1. bucket = id div bucket_size; per-bucket ordered window gives the
         exclusive cumsum WITHIN the bucket (parallel across buckets);
      2. per-bucket token totals cumsum'd into bucket offsets — a window
         over the tiny bucket-totals relation, broadcast back.
    Output is bit-identical to the naive global window at any partitioning
    AND any bucket width (width only moves work between the two levels).

    The second-level window is global-ordered, so its relation must be
    PROVABLY small, not accidentally small (r11 verdict: a fixed width
    made it corpus/bucket_size rows — O(10⁶⁺) in one partition at
    10¹²-doc scale).  ``bucket_size`` is therefore a FLOOR: the effective
    width is derived from the corpus's actual id span (a min/max over the
    persisted projection below) so the offsets relation never exceeds
    ``max_offset_rows`` (default 64k) at any corpus size — the bound is
    unit-tested, and a planted 10¹⁰-wide id range keeps it in tests.

    The operator needs THREE passes over (id, n_tokens) — span min/max,
    per-bucket totals, and the in-bucket window — so that projection is
    persisted once (two longs per row, the minimal possible; spillable)
    and every pass reads the cache instead of re-running the upstream
    lineage.  Without the pin, a composed upstream pipeline (selection →
    chunk → tokenize, as in cur_full_pipeline) re-executed per pass: the
    r12 span pass measurably regressed the composed bench (warm 1.9 s →
    3.4 s) until the cache made the passes share one execution."""
    n_tok = token_count_bpe_ish(F.col(text_col)).cast("long")
    reuse.evict(_live_pack_caches)
    projected = reuse.keep(
        _live_pack_caches,
        docs.select(F.col(id_col), n_tok.alias("n_tokens")).persist(),
    )
    row = projected.agg(
        F.min(F.col(id_col).cast("long")).alias("_lo"),
        F.max(F.col(id_col).cast("long")).alias("_hi"),
    ).collect()[0]
    bucket_size = _derive_bucket_size(
        row["_lo"], row["_hi"], bucket_size, max_offset_rows
    )
    base = projected.select(
        F.col(id_col),
        F.col("n_tokens"),
        # `div` is exact integral division — float round-trips lose exactness
        # on large ids
        F.expr(f"CAST({id_col} AS BIGINT) div {bucket_size}").alias("_bkt"),
    )
    in_bucket = Window.partitionBy("_bkt").orderBy(id_col).rowsBetween(
        Window.unboundedPreceding, -1
    )
    local = base.select(
        "*",
        F.coalesce(F.sum("n_tokens").over(in_bucket), F.lit(0)).alias("_local_excl"),
    )
    totals = base.groupBy("_bkt").agg(F.sum("n_tokens").alias("_bkt_total"))
    off_w = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = totals.select(
        "_bkt", F.coalesce(F.sum("_bkt_total").over(off_w), F.lit(0)).alias("_offset")
    )
    return (
        local.join(F.broadcast(offsets), "_bkt")
        .select(
            id_col,
            "n_tokens",
            F.expr(f"(_local_excl + _offset) div {shard_tokens}").alias("shard_id"),
        )
    )


def stratified_sample(
    df: DataFrame,
    rates_per_mille: dict[str, int],
    default_per_mille: int = 0,
    strata_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-stratum sampling: keep rows whose hash bucket falls
    below the stratum's per-mille threshold — the source-mixing knob of a
    corpus recipe ("keep 60% of curated sources, 25% of the crawl").

    rand()-based sampling re-draws on every run and every repartitioning;
    hashing the id instead makes the sample REPRODUCIBLE and STABLE — a row's
    membership never changes when other rows are added, so incremental
    re-curation keeps prior selections (same property as ``hash_split``,
    same bucket arithmetic, so split and sample compose consistently).
    Zero shuffle — a pure filter projection with the tiny rate table inlined
    as a literal map.
    """
    bucket = split_bucket(F.col(id_col))
    rate_map = F.create_map(
        *[F.lit(x) for k, v in rates_per_mille.items() for x in (k, v)]
    )
    threshold = F.coalesce(
        rate_map[F.col(strata_col)], F.lit(default_per_mille)
    )
    return df.where(bucket < threshold).select(
        id_col, strata_col, bucket.alias("sample_bucket")
    )


def incremental_merge(
    base: DataFrame,
    updates: DataFrame,
    id_col: str = "doc_id",
    broadcast_updates: bool = True,
) -> DataFrame:
    """Upsert an incremental batch into a corpus snapshot: batch rows REPLACE
    base rows with the same id, unmatched batch rows append.  The reference
    only truncate-and-reloads (db.go:134-166 drops collections and rewrites);
    at 100 TB a re-crawl delta must merge, not reload.

    MERGE INTO without a table format: anti-join the base against the batch's
    ids, union the batch back.  The batch's id column is BROADCAST by
    default (a delta — small relative to the corpus), so the anti-join is
    map-side and the corpus never shuffles; a backfill-sized delta whose
    id set outgrows broadcast headroom passes ``broadcast_updates=False``
    and takes the shuffle anti join (AQE re-promotes when small).  With a
    Delta/Iceberg sink the same plan runs as ``MERGE INTO``; this operator
    is the engine-neutral core.
    """
    upd_ids = updates.select(id_col)
    if broadcast_updates:
        upd_ids = F.broadcast(upd_ids)
    survivors = base.join(upd_ids, on=id_col, how="left_anti")
    return survivors.unionByName(updates)


def temperature_sample(
    df: DataFrame,
    alpha: float = 0.5,
    strata_col: str = "lang",
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-based stratum rebalancing: downsample each stratum g with
    keep-rate ``(n_min / n_g) ** (1 - alpha)`` so the surviving corpus
    composition follows ``p_g ∝ n_g ** alpha`` — the multilingual mixing
    rule of mC4 / XLM-R (alpha=1 keeps the natural distribution, alpha=0
    flattens every stratum to the smallest one's size).  The smallest
    stratum is always kept whole; larger ones shed rows deterministically.

    Unlike ``stratified_sample`` the rates are DERIVED FROM THE DATA (one
    tiny count aggregate), not supplied — this is the knob you turn when the
    crawl's language mix must not drown low-resource languages.

    Determinism/reproducibility: membership is a ``split_bucket`` hash test
    against a per-stratum threshold, so a row's fate never changes under
    re-runs, repartitioning, or appends that keep its stratum's count.  For
    ``alpha=0.5`` the threshold is ``floor(1e6 * sqrt(n_min/n_g))`` — sqrt,
    divide, and multiply are all IEEE-exactly-rounded, so the threshold is
    bit-identical across engines and the output is oracle-checkable; other
    alphas go through ``pow`` whose last ulp may differ between libms.

    Scale shape: one tiny (stratum, count) aggregate → min over a handful of
    rows → BROADCAST threshold join → filter.  The corpus itself never
    shuffles; at 100 TB the only exchange carries one row per stratum.
    """
    if not (0.0 <= alpha <= 1.0):
        raise ValueError(f"need 0 <= alpha <= 1, got {alpha}")
    counts = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("_n"))
    # global min via an unpartitioned window over the TINY counts table
    # (one row per stratum) — stays an equi-plan, no nested-loop join
    n_min = F.min("_n").over(Window.partitionBy())
    ratio = n_min / F.col("_n")
    rate = F.sqrt(ratio) if alpha == 0.5 else F.pow(ratio, F.lit(1.0 - alpha))
    thresholds = counts.select(
        strata_col,
        F.floor(F.lit(1_000_000.0) * rate).alias("keep_threshold"),
    )
    bucket = split_bucket(F.col(id_col), n_buckets=1_000_000)
    return (
        df.select(id_col, strata_col, bucket.alias("sample_bucket"))
        .join(F.broadcast(thresholds), on=strata_col)
        .where(F.col("sample_bucket") < F.col("keep_threshold"))
        .select(id_col, strata_col, "sample_bucket", "keep_threshold")
    )


def morton_key(a: Column, b: Column, bits: int = 10) -> Column:
    """Z-order (Morton) key: bit-interleave two bucketized dimensions so that
    sorting / range-partitioning by the key co-locates rows that are close in
    BOTH dimensions at once — parquet row-group min/max stats then prune scans
    on EITHER predicate, where a lexicographic sort only serves its leading
    column.  The standard multi-dimensional data-layout trick (Delta/Iceberg
    OPTIMIZE ZORDER) expressed as pure int64 bit arithmetic: zero shuffle to
    compute; one range exchange to lay out.

    Inputs must already be in [0, 2^bits); compose with ``split_bucket`` /
    ``least`` to bucketize raw values.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        a_bit = F.shiftright(a.cast("long"), i).bitwiseAND(F.lit(1))
        b_bit = F.shiftright(b.cast("long"), i).bitwiseAND(F.lit(1))
        z = z.bitwiseOR(F.shiftleft(a_bit, 2 * i)).bitwiseOR(
            F.shiftleft(b_bit, 2 * i + 1)
        )
    return z


def chunk_documents(
    docs: DataFrame,
    chunk_tokens: int = 512,
    stride: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-size token windows — the step between
    curation and shard packing when documents exceed the training sequence
    length.  ``stride`` < ``chunk_tokens`` gives overlapping windows
    (context preserved across boundaries); default is non-overlapping.

    One row per (doc, chunk): ``chunk_idx``, the space-rejoined
    ``chunk_text``, and ``n_chunk_tokens`` (== chunk_tokens except the
    final remainder).  Zero shuffle — tokenize, build the start-offset
    sequence, posexplode the window slices; all inside whole-stage codegen.
    Deterministic, so chunks are stable across re-curations (chunk ids can
    key downstream caches).
    """
    if stride is None:
        stride = chunk_tokens
    if not (0 < stride <= chunk_tokens):
        raise ValueError(f"need 0 < stride <= chunk_tokens, got {stride}")
    # token array let-bound: the per-chunk lambda would otherwise re-run
    # the regexp tokenizer once per chunk start (see functions/binding.py).
    # The whole chunking tree is built by ONE F.expr parse (r16, guide §4
    # driver-side work — ~80 py4j round trips per invocation before;
    # sameSemantics-pinned against the Column form in tests).
    toks_sql = tokens_sql(f"`{text_col}`")
    n_starts = (
        f"CASE WHEN size(toks) > 0 "
        f"THEN CAST(ceil(size(toks) / {stride}) AS INT) ELSE 0 END"
    )
    chunks = F.expr(
        "element_at(transform(array(" + toks_sql + "), toks -> "
        "CASE WHEN size(toks) > 0 THEN "
        f"transform(sequence(0, greatest({n_starts} - 1, 0)), "
        f"i -> slice(toks, i * {stride} + 1, {chunk_tokens})) "
        "ELSE CAST(array() AS array<array<string>>) END), 1)"
    )
    # NOTE (r16 batch 3): deliberately NO ensure_parallelism here — the
    # composed pipeline passes a broadcast-joined input, and the .rdd
    # partition probe would execute the join subplan under AQE just to
    # count partitions (see ngram_jaccard_pairs' base-scan placement).
    # Callers that chunk a single-split base scan parallelize the scan
    # side themselves (cur_full_pipeline re-attaches to an
    # ensure_parallelism'd corpus scan).
    exploded = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "chunk_toks")
    )
    return exploded.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", F.col("chunk_toks")).alias("chunk_text"),
        F.size("chunk_toks").cast("long").alias("n_chunk_tokens"),
    )


def deterministic_shuffle(
    docs: DataFrame, id_col: str = "doc_id", seed: str = "epoch0"
) -> DataFrame:
    """Seeded deterministic corpus shuffle: assign every row a stable
    1-based position in a pseudorandom-but-reproducible global order —
    the "shuffle the training corpus" step, done so that re-running the
    pipeline (or resuming a failed run) yields byte-identical shard
    contents, unlike orderBy(rand()) whose sample is partitioning- and
    retry-dependent.

    Order key is md5(id || '/' || seed) — cryptographic diffusion makes the
    order independent of id locality, a new seed string is a fresh epoch
    permutation, and md5 (unlike xxhash64) has bit-identical
    implementations in every engine, so the order is restatable in plain
    SQL for the oracle.

    Scale shape: a RANGE-PARTITIONED sort, not a global window.
    ``row_number() over (order by hash)`` — the obvious spelling — compiles
    to Spark's empty-frame window, which funnels the ENTIRE corpus through
    one task ("No Partition Defined for Window" path): an O(corpus)
    single-machine bottleneck.  Instead: ``repartitionByRange`` on the hash
    (Spark samples the key space; uniform key ⇒ balanced ranges) +
    ``sortWithinPartitions``, persist so the range placement is computed
    ONCE, then global position = per-range offset (a tiny
    one-row-per-range aggregate, cumulative-summed on the driver and
    broadcast back) + intra-range row_number partitioned by range id.  The
    corpus itself shuffles once for the range exchange and once (balanced,
    by range id) for the partitioned window; no task ever holds more than
    one range.
    """
    from pyspark.sql import Window

    spark = docs.sparkSession
    key = F.md5(F.concat_ws("/", F.col(id_col).cast("string"), F.lit(seed)))
    keyed = docs.select(F.col(id_col), key.alias("_k"))
    n_ranges = max(int(spark.conf.get("spark.sql.shuffle.partitions", "200")), 1)
    reuse.evict(_live_shuffle_caches)
    ranged = reuse.keep(
        _live_shuffle_caches,
        keyed.repartitionByRange(n_ranges, F.col("_k").asc(), F.col(id_col).asc())
        .sortWithinPartitions(F.col("_k").asc(), F.col(id_col).asc())
        .withColumn("_rid", F.spark_partition_id())
        .persist(),  # pin range placement: offsets job + final job must agree
    )
    counts = sorted(
        (r["_rid"], r["n"])
        for r in ranged.groupBy("_rid").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    offsets, acc = [], 0
    for rid, n in counts:  # one row per range — driver cumsum is O(ranges)
        offsets.append((rid, acc))
        acc += n
    off_df = spark.createDataFrame(offsets, "_rid int, _offset long")
    local = F.row_number().over(
        Window.partitionBy("_rid").orderBy(F.col("_k").asc(), F.col(id_col).asc())
    )
    return (
        ranged.join(F.broadcast(off_df), "_rid")
        .select(
            F.col(id_col),
            (F.col("_offset") + local).cast("long").alias("shuffle_pos"),
        )
    )


# Cache-hygiene ledger for deterministic_shuffle's pinned range placement
# (reuse.evict / reuse.keep, one live entry): the previous invocation's
# persist is released when a new one begins.
_live_shuffle_caches: list = []

# Same pattern for pack_token_shards' (id, n_tokens) projection pin.
_live_pack_caches: list = []


def weighted_sample(
    docs: DataFrame,
    weight_col: str,
    id_col: str = "doc_id",
    rate: float = 1.0,
    seed: str = "ws0",
) -> DataFrame:
    """Deterministic weight-proportional Bernoulli sampling: keep each row
    with probability ``rate * weight / max(weight)`` — importance sampling
    by a quality/length weight, reproducible across reruns, retries, and
    repartitionings (F.rand() is none of those).

    The per-row uniform comes from md5(id || seed): the first 13 hex chars
    (52 bits, inside double's exact-integer range) scale to [0, 1).  The
    keep test is rewritten multiply-only — ``u * max_w < rate * w`` — so
    every arithmetic step (hex parse, one multiply each side, compare) is
    IEEE-exact and engine-independent; no pow/log (libm-dependent last
    ulps) and no division anywhere near the decision boundary.  max(weight)
    is a 1-row aggregate broadcast into the filter — the corpus never
    shuffles.  A new seed string is a fresh sample.
    """
    u = (
        F.conv(F.substring(F.md5(F.concat_ws("/", F.col(id_col).cast("string"),
                                             F.lit(seed))), 1, 13), 16, 10)
        .cast("double")
        / F.lit(float(1 << 52))
    )
    max_w = docs.agg(F.max(F.col(weight_col).cast("double")).alias("_max_w"))
    return (
        docs.crossJoin(F.broadcast(max_w))
        .filter(u * F.col("_max_w") < F.lit(rate) * F.col(weight_col).cast("double"))
        .drop("_max_w")
    )


def sample_n_per_group(
    df: DataFrame,
    n: int,
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "spg0",
) -> DataFrame:
    """Deterministic fixed-size per-group sample: exactly min(n, |group|)
    rows per group, chosen by md5-hash rank — "take 100 docs per source for
    the eval set", reproducible across runs and partitionings (randomSplit
    and TABLESAMPLE are neither), with a new ``seed`` giving a fresh draw.
    Complements the rate-based samplers (stratified/temperature/weighted):
    those bound the keep PROBABILITY, this bounds the COUNT.

    Scale shape: one hash-partitioned window per group with rank cutoff n —
    per-task fanout is bounded by group size, and the rank filter prunes to
    n rows per group before anything else touches them.  A skewed group
    costs one task sorting that group's (id, hash) pairs — two longs per
    row, not payloads; payload columns rejoin nothing (they ride through
    the window untouched as window functions only ADD a column)."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    key = F.md5(F.concat_ws("/", F.col(id_col).cast("string"), F.lit(seed)))
    rn = F.row_number().over(
        Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    )
    return (
        df.withColumn("_rn", rn)
        .filter(F.col("_rn") <= n)
        .withColumn("sample_rank", F.col("_rn").cast("int"))
        .drop("_rn")
    )


def interleave_sources(
    df: DataFrame,
    weights: dict[str, int],
    group_col: str = "source",
    id_col: str = "doc_id",
    seed: str = "mix0",
) -> DataFrame:
    """Training-mixture schedule: assign every row a deterministic global
    interleave key so that reading rows in key order yields sources at
    frequencies proportional to integer ``weights`` (weighted fair
    queueing) — the "2 parts web, 1 part code" epoch-ordering step of a
    pretraining data pipeline, decided BEFORE sharding so every reader
    sees the same mixture.

    Row r of source s (1-based md5-rank within source) is scheduled at
    virtual time r/w_s; rows stream out in vtime order.  The emitted key
    ``vtime_micros = (r * 1_000_000) div w_s`` is PURE LONG ARITHMETIC —
    exact, overflow-safe to ~9e12 rows per source, bit-identical in any
    engine — and ties break (source, rank), so the total order is fully
    deterministic.  Sources absent from ``weights`` are dropped (weight 0).

    Scale shape: one bounded per-source window for the rank (hash-ordered,
    same shape as sample_n_per_group), a literal CASE for the weight —
    no join — and NO global sort here: downstream consumers range-partition
    on vtime_micros (balanced: vtime is ~uniform) or take bounded prefixes
    via TakeOrdered.  Emitting the key instead of a global row_number is
    what keeps the operator shuffle-free."""
    from pyspark.sql import Window

    if not weights or any(w < 1 for w in weights.values()):
        raise ValueError("weights must be a non-empty dict of ints >= 1")
    key = F.md5(F.concat_ws("/", F.col(id_col).cast("string"), F.lit(seed)))
    rn = F.row_number().over(
        Window.partitionBy(group_col).orderBy(key.asc(), F.col(id_col).asc())
    )
    w = F.lit(None).cast("long")
    for s, wt in weights.items():
        w = F.when(F.col(group_col) == s, F.lit(int(wt)).cast("long")).otherwise(w)
    return (
        df.filter(F.col(group_col).isin(*weights.keys()))
        .withColumn("src_rank", rn.cast("long"))
        .withColumn("_w", w)
        .withColumn("vtime_micros", F.expr("(src_rank * CAST(1000000 AS BIGINT)) div _w"))
        .drop("_w")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    train_pct: int = 80,
    val_pct: int = 10,
    normalize: bool = True,
    representatives: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test split that cannot leak duplicates across splits:
    the hash bucket is computed on each document's DUPLICATE-GROUP
    REPRESENTATIVE, so every copy of a document lands in the SAME split.
    Plain per-id hash_split silently puts duplicate twins on both sides of
    the train/test boundary — the eval-contamination bug the C4/Pile
    post-mortems call out.

    The group map is pluggable: by default the (normalized) content hash —
    exact-duplicate safety with zero extra machinery; pass
    ``representatives`` = connected_components output (``node``,
    ``component``) to make whole NEAR-dup clusters split-atomic (the
    registry query does exactly that).  Unmapped docs represent
    themselves, so the split degrades to hash_split where no duplication
    exists.

    Stability contract (weaker than hash_split's, and necessarily so):
    reproducible across runs, cluster sizes, and partitionings for a FIXED
    corpus.  It is NOT append-stable: the representative is the minimum
    member id, so a later-arriving duplicate with a smaller id (or, in the
    ``representatives`` mode, a new near-dup that MERGES two clusters —
    possible regardless of labeling scheme) changes the group's rep_id and
    can migrate the whole group between splits.  No leakage-safe split can
    be append-stable under cluster merging: keeping both halves of a newly
    merged cluster in their old, different splits is exactly the leak this
    operator exists to prevent.  Pipelines that need frozen assignments
    should pin the split output of a corpus snapshot (it is deterministic
    to recompute) rather than re-deriving it after appends; plain
    hash_split remains the append-stable-but-leakage-blind alternative.

    Scale shape: one content-hash groupBy (uniform sha keys — no skew) or
    the provided map, one id/sha-keyed join to attach it (shuffle carries
    ids and hashes, never text), then the split is the zero-shuffle bucket
    projection on rep_id."""
    if representatives is not None:
        rep_map = representatives.select(
            F.col("node").alias(id_col), F.col("component").alias("_rep")
        )
        with_rep = df.select(F.col(id_col)).join(rep_map, id_col, "left").select(
            F.col(id_col),
            F.coalesce("_rep", F.col(id_col)).alias("rep_id"),
        )
    else:
        from bulkfhirloader_spark.operators.text import normalize_text

        content = (
            normalize_text(F.col(text_col)) if normalize else F.col(text_col)
        )
        sha = F.sha2(content, 256)
        with_sha = df.select(F.col(id_col), sha.alias("_sha"))
        rep = with_sha.groupBy("_sha").agg(F.min(id_col).alias("rep_id"))
        with_rep = with_sha.join(rep, "_sha").select(F.col(id_col), "rep_id")
    b = split_bucket(F.col("rep_id"))
    split = (
        F.when(b < train_pct * 10, F.lit("train"))
        .when(b < (train_pct + val_pct) * 10, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return with_rep.select(
        F.col(id_col), "rep_id", b.alias("bucket"), split.alias("split")
    )
