"""Deduplication operators: exact, normalized-exact, MinHash+LSH near-dup,
SimHash, and exact n-gram Jaccard.

Scale design (the point at 100 TB):
- Exact dedup is a content-hash groupBy — one shuffle keyed on the hash, so
  perfectly balanced regardless of key skew in the natural keys.
- MinHash+LSH is the standard shingle → K minhashes → B bands → bucket join
  pipeline: the only pairwise work happens inside LSH buckets, so cost is
  ~linear in corpus size instead of O(n²).  Everything below is built-in
  expressions (xxhash64 + affine permutations) — no Python UDFs, no MLlib
  dependency, deterministic given the seed constants.
- SimHash packs token hashes into one 64-bit signature per doc; near-dup
  candidates are signatures equal on rotated bands (Hamming-ball probing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.fsutil import fs_dir_fingerprint
from bulkfhirloader_spark.functions.binding import let
from bulkfhirloader_spark.operators.text import normalize_text, tokens
from bulkfhirloader_spark.reuse import release_candidate_checkpoints  # noqa: F401
from bulkfhirloader_spark.sources.stores import SIGNATURE_BANDS


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Give a CPU-dense operator at least one task per core.

    A small parquet input (one file, one row group) arrives as ONE partition,
    serializing the shingle/token explode onto a single core no matter how
    many are available.  At real scale inputs already have >= parallelism
    partitions and this is a no-op — it never *reduces* partitioning and
    never shuffles a big input.

    Streaming inputs pass through untouched: ``.rdd`` is illegal on a
    streaming DataFrame, and a stream's partitioning is the source's
    concern (maxFilesPerTrigger etc.), not a one-shot repartition's —
    this keeps the signature projections streaming-safe
    (streaming.joins.stream_near_dup_admission).
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


# Persisted-result memos: one entry per (SparkContext, input plan(s),
# params), so repeated dedup calls over one corpus reuse ONE materialized
# cache instead of a release-and-recompute cycle per call (reuse.Memo:
# bounded LRU, sameSemantics-confirmed hits, stopped contexts purged
# first).
_SIG_MEMO = reuse.Memo(4)
_ADMIT_MEMO = reuse.Memo(4)
# Max distinct band hashes pushed as a literal IN filter to the bucketed
# band table (incremental_near_dup_filter's pruned-probe tier).  Pruning
# is an IO win exactly when the probed key set is small against the
# bucket/page grid — the trickle-admission case (a few hundred docs per
# batch), where the probe becomes near-constant in corpus size.  BULK
# batches are the opposite regime: measured on 4M band rows, a 20k-value
# IN cost 14.8 s just to CONSTRUCT via isin (one py4j literal at a time),
# and its parquet pushdown EVALUATION was slower than no pushdown at all
# (7.8 s vs 3.6 s) while skipping nothing (20k uniform hashes hit every
# page) — so above the cap the probe reads the table unfiltered and lets
# the candidate join restrict (the narrow 3-column scan still avoids the
# plain tier's minhash decode + re-banding).  The literal tier builds the
# IN through ONE parsed SQL string (F.expr), never isin: 0.02 s vs 14.8 s
# for the same values.
_BAND_PROBE_PUSHDOWN_MAX = 4096
# Max distinct candidate DOC IDS pushed as a literal IN filter onto the
# pairwise-verify tier's corpus scan (ngram_jaccard_pairs' candidates
# fast path).  Same regime analysis as the band-hash cap above: the
# candidate set is contractually small when broadcast_candidates is on
# (that is the point of LSH proposal), so the id list is a bounded
# driver read of longs/strings, and a literal IN — built through ONE
# parsed SQL string, never isin — reaches the parquet reader as
# PushedFilters: In(doc_id, …), turning the verify tier's corpus TEXT
# scan into a footer/row-group-pruned candidate read at scale (guide
# §6.3: the semi join it replaces bounded the shingling COMPUTE but
# still read every row's text bytes before filtering).  Above the cap —
# or for id types with no safe literal rendering — the broadcast semi
# join remains, identical output by construction.
_VERIFY_ID_PUSHDOWN_MAX = 4096


# Affine-permutation constants for MinHash: h_i(x) = (a_i * x + b_i) mod P.
# Deterministic (seeded) so tests and reruns agree.
#
# All values are sized so the arithmetic stays inside int64 even under ANSI
# mode (Spark 4's default — overflow throws, it does not wrap): the base hash
# x is reduced to 32 bits, a < 2^30, b < 2^31, so a*x + b < 2^62 + 2^31.
MERSENNE_PRIME = (1 << 31) - 1


def _permutation_constants(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    # Simple deterministic LCG over the seed — avoids importing numpy's RNG
    # into the executor path; constants are computed once on the driver.
    consts = []
    state = seed
    for _ in range(num_hashes):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = state % ((1 << 30) - 1) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % MERSENNE_PRIME
        consts.append((a, b))
    return consts


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", normalize: bool = False
) -> DataFrame:
    """Exact duplicate groups by content hash: keep the minimum id per
    group (deterministic survivor), report group size.

    Grouping on sha2(text) rather than the raw text keeps shuffle rows
    narrow (64 hex chars, not document bodies) — the difference between a
    shuffle of 100 TB and a shuffle of ~6 GB per 100M docs.
    """
    content = normalize_text(F.col(text_col)) if normalize else F.col(text_col)
    return (
        docs.select(F.sha2(content, 256).alias("content_sha"), F.col(id_col))
        .groupBy("content_sha")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def word_shingles(text_col, n: int = 3):
    """Distinct word n-gram shingles of a document, as an array column.

    The token array is LET-BOUND through a one-element ``transform`` so
    the regexp tokenization runs exactly once per row.  A lambda variable
    is a plain bound reference, but a raw expression referenced inside a
    higher-order-function lambda body is RE-EVALUATED on every element —
    Catalyst's subexpression elimination does not reach into HOF lambdas
    — so the previous inline form re-ran ``regexp_extract_all`` over the
    whole document once per shingle position (O(tokens) regex passes per
    doc: measured 5.1 s → 0.5 s for shingling the sf0.1 corpus, ~10×,
    bit-identical output).  See functions/binding.py."""

    def _shingles(toks):
        idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
        return F.array_distinct(
            F.when(
                F.size(toks) >= n,
                F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))),
            ).otherwise(F.array(F.concat_ws(" ", toks)))
        )

    return let(tokens(normalize_text(text_col)), _shingles)


def minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """One row per doc with an array<long> MinHash signature.

    Plan shape: a PURE PROJECTION.  Per doc, hash the distinct-shingle array
    once (xxhash64, reduced to 32 bits so the ANSI-mode affine arithmetic
    a*x+b stays inside int64), then ONE aggregate fold over the shingle
    hashes, each step zip_with-ing the K running minimums against the K
    affine permutations of the current hash — a single traversal instead of
    K array_min passes (measured ~25% faster, bit-identical output).
    Signature computation therefore shuffles NOTHING at any corpus size;
    the earlier explode + K-min-aggregates shape paid a (small) shuffle of
    K longs per doc plus the row-explosion of the shingle stream.
    """
    docs = ensure_parallelism(docs)
    sh = word_shingles(F.col(text_col), shingle_words)
    return docs.select(
        F.col(id_col), minhash_sig_expr(sh, num_hashes).alias("minhash")
    )


def minhash_sig_expr(shingles_col, num_hashes: int = 32):
    """The MinHash signature as a pure COLUMN EXPRESSION over a shingle
    array — exposed separately so callers that also need the shingle array
    itself (e.g. the streaming stream-static admission join, which carries
    shingles through the band join for in-condition exact verification)
    can compute both in ONE projection instead of a self-join.

    The three constant arrays (permutation multipliers/offsets and the
    all-MERSENNE init vector) are each built by ONE ``F.expr`` parse
    (r16, guide §4 driver-side work): the per-element
    ``F.lit(..).cast("long")`` loop issued ~3×num_hashes py4j round trips
    per invocation.  The parsed trees are the same literal arrays
    (sameSemantics-pinned in tests)."""
    consts = _permutation_constants(num_hashes)
    # CAST(n AS BIGINT) (not nL literals): these arrays sit inside the
    # fold's lambda body, where ConstantFolding does not reach, so the
    # parsed tree must match the Column form node-for-node
    a_vec = F.expr(
        "array("
        + ", ".join(f"CAST({a} AS BIGINT)" for a, _b in consts)
        + ")"
    )
    b_vec = F.expr(
        "array("
        + ", ".join(f"CAST({b} AS BIGINT)" for _a, b in consts)
        + ")"
    )
    init = F.expr(
        "array("
        + ", ".join([f"CAST({MERSENNE_PRIME} AS BIGINT)"] * num_hashes)
        + ")"
    )
    hx = F.transform(shingles_col, lambda s: F.pmod(F.xxhash64(s), F.lit(1 << 32)))
    return F.aggregate(
        hx,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.zip_with(
                a_vec, b_vec, lambda a, b: F.pmod(h * a + b, F.lit(MERSENNE_PRIME))
            ),
            lambda cur, cand: F.least(cur, cand),
        ),
    )


def cached_minhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    shingle_words: int = 3,
) -> DataFrame:
    """minhash_signatures with a persisted, memoized result.

    Keyed by (SparkContext, canonical plan hash, column names,
    geometry); hits are confirmed with sameSemantics against the stored
    input plan (semanticHash is 32-bit — reuse.Memo).  Two calls over
    semantically identical corpora with the same geometry share one cached
    materialization.  LRU-bounded, dead-session entries purged first."""
    key = (docs.semanticHash(), id_col, text_col, num_hashes, shingle_words)
    return _SIG_MEMO.get_or_build(
        docs.sparkSession, key,
        lambda: minhash_signatures(
            docs, id_col, text_col, num_hashes, shingle_words
        ).persist(),
        [docs],
    )


def require_band_geometry(num_hashes: int, bands: int) -> None:
    """Validate that ``num_hashes`` splits evenly into ``bands`` — as a real
    exception, not an ``assert``: asserts are stripped under ``python -O``,
    and a store written (or a gate built) with a ragged band split would
    persist rows whose band hashes never collide with any prober's, i.e.
    silent 100% duplicate admission instead of a loud config error."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} does not divide into bands={bands}: "
            f"writer and prober would band-split signatures differently, "
            f"and mismatched bands never collide"
        )


def band_hash_array(minhash_col, bands: int, num_hashes: int):
    """array<long> of per-band bucket hashes over a MinHash signature.

    Band b's bucket is xxhash64(b, sig[b*r], ..., sig[b*r+r-1]) with STATIC
    getItem indices — a flat multi-arg hash the codegen path compiles
    directly, vs the earlier transform(...concat_ws...) shape that built a
    string per band per row inside an interpreted higher-order function.
    Collision semantics are unchanged (equal slices ⇒ equal hash; unequal
    slices collide with ~2^-64 probability either way, and any false
    collision is removed downstream by the estimate/exact filter).

    Pass the signature column's NAME (str) and the whole array is built by
    ONE ``F.expr`` parse (r16, guide §4/driver-side work — the
    similarity.lit_double_array pattern): the Column form issues ~6 py4j
    round trips per band (lit + getItems + xxhash64 + array), measured
    96 ms of driver time per invocation at bands=8 — paid once per
    *invocation* in query-many serving, not once per session.  The parsed
    tree is the same array-of-xxhash64-over-static-indices
    (sameSemantics-pinned in tests), so plans and results are unchanged.
    A Column argument keeps the per-band builder for callers whose
    signature is a computed expression."""
    require_band_geometry(num_hashes, bands)
    rows_per_band = num_hashes // bands
    if isinstance(minhash_col, str):
        name = f"`{minhash_col}`"
        parts = ", ".join(
            "xxhash64("
            + ", ".join(
                [str(b)]
                + [f"{name}[{b * rows_per_band + i}]" for i in range(rows_per_band)]
            )
            + ")"
            for b in range(bands)
        )
        return F.expr(f"array({parts})")
    return F.array(
        *[
            F.xxhash64(
                F.lit(b),
                *[minhash_col[b * rows_per_band + i] for i in range(rows_per_band)],
            )
            for b in range(bands)
        ]
    )


def _sig_bands(sigs: DataFrame, id_col: str, bands: int, num_hashes: int) -> DataFrame:
    """``(id_col, band_idx, band_hash)``: one row per band of each
    ``(id_col, minhash)`` signature row."""
    bh = F.posexplode(band_hash_array("minhash", bands, num_hashes))
    return sigs.select(F.col(id_col), bh.alias("band_idx", "band_hash"))


def _drop_hot_keys(df: DataFrame, keys: tuple, cap: int) -> DataFrame:
    """The rows of ``df`` whose ``keys`` group holds at most ``cap`` rows:
    the one hot-bucket rule of _cap_band_buckets and of the streaming
    gates' static-side cap (streaming.joins._probe)."""
    n = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return df.withColumn("_bn", n).filter(F.col("_bn") <= cap).drop("_bn")


def _cap_band_buckets(
    banded: DataFrame,
    max_bucket_size: int,
    keys: tuple = ("band_idx", "band_hash"),
    share: bool = False,
) -> DataFrame:
    """The shared max_bucket_size contract for the batch LSH bucket
    joins: EXCLUDE rows whose bucket (``keys`` group) exceeds the cap
    (_drop_hot_keys).

    Exchange accounting: in the MinHash operators (one-shot and
    incremental) the window keys equal the band join's keys (band_idx,
    band_hash), so the guard's count rides the shuffle that was already
    happening — no extra Exchange, plan-checked.  In the embedding
    hyperplane tier the downstream join is on (tbl, probe) AFTER the
    multi-probe explode, so that tier pays one extra Exchange over narrow
    (id, tbl, bucket) rows, shared by both join sides via ReuseExchange.

    ``share=True`` (r16): the capped table is usually the SELF-JOIN input,
    referenced once per join side, and when Catalyst broadcasts one side
    that side's build is a separate subtree, so ReuseExchange canNOT dedupe
    it and the explode → Exchange → Sort → Window chain runs once per side
    (plan-verified: dedup_minhash_capped carried TWO Window chains).  With
    share=True the capped output is cut with a ledgered
    persist(MEMORY_AND_DISK): ONE execution, every reference reads the
    InMemoryRelation (measured −50% warm at sf0.1, identical pairs).  r17:
    persist, not a lazy localCheckpoint, so a lost executor recomputes the
    blocks from lineage instead of failing the query.  The blocks are
    corpus×bands NARROW rows and drain with
    release_candidate_checkpoints."""
    if max_bucket_size < 2:
        raise ValueError("max_bucket_size must be >= 2 (a pair needs 2)")
    capped = _drop_hot_keys(banded, keys, max_bucket_size)
    if share:
        capped = reuse.shared_persist(capped)
    return capped


def minhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_words: int = 3,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """LSH candidate generation + MinHash Jaccard estimate.

    bands × rows_per_band = num_hashes; a pair collides if any band's
    signature slice matches exactly.  The band bucket join is an equi join
    on (band_index, band_hash) — PARTITION placement is uniform (the keys
    are hashes), but bucket-local OUTPUT is not: a boilerplate cluster of
    m near-identical docs shares buckets and emits its full C(m,2) pair
    clique (measured: a planted 1000-doc clique → 499,500 pairs,
    scripts/scale_evidence.py).  Fine at m=10³; at a 100 TB corpus a
    m=10⁶ template cluster would emit 5·10¹¹ pairs from one bucket.
    ``max_bucket_size`` is the cap for that regime: band rows in buckets
    larger than the cap are EXCLUDED from the join (the window count
    shares the join's (band_idx, band_hash) partitioning, so the guard
    rides the shuffle that was already happening).  A pair sharing any
    non-capped band still surfaces; docs whose every shared band is
    capped are the pathological boilerplate case — handle those with
    exact_dedup (identical bodies collapse for free) or
    ngram_containment_pairs on the flagged bucket members.  Default None
    keeps the exhaustive behavior.

    Cache hygiene: signatures for (corpus plan, geometry) are memoized via
    cached_minhash_signatures, so repeat calls over the same corpus reuse
    ONE materialized cache (the old per-call release-and-recompute cycle
    paid the full shingle+fold projection on every warm invocation);
    eviction is LRU-bounded at _SIG_MEMO.maxsize entries.
    """
    require_band_geometry(num_hashes, bands)
    # sigs feeds the banding AND both sides of the estimate re-join; persist
    # so the shingle hashing + K array-mins run once.  Signatures are
    # K longs per doc (~256 B at K=32) — memory-and-disk safe at any scale,
    # and measured cheaper than recomputing the projection three times.
    sigs = cached_minhash_signatures(docs, id_col, text_col, num_hashes, shingle_words)

    # Band join carries ONLY (id, band) — not the signature arrays.  A doc
    # appears in `bands` buckets, so dragging the K-long array through the
    # join would multiply shuffle bytes by ~bands×K per row; instead dedup
    # candidate pairs down to two longs each, then re-attach the two
    # signatures with narrow id-keyed joins for the Jaccard estimate.
    banded = _sig_bands(sigs, id_col, bands, num_hashes)
    if max_bucket_size is not None:
        # share=True: the capped table feeds BOTH self-join sides; without
        # the cut each side re-ran the Exchange+Sort+Window chain (see
        # _cap_band_buckets).  The uncapped path below stays inline — its
        # per-side recompute is a cheap explode over the signature cache
        # and the join exchanges it anyway.
        banded = _cap_band_buckets(banded, max_bucket_size, share=True)

    left = banded.select(F.col(id_col).alias("id_a"), "band_idx", "band_hash")
    right = banded.select(F.col(id_col).alias("id_b"), "band_idx", "band_hash")
    cand = (
        left.join(right, ["band_idx", "band_hash"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sig_a = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sig_b = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    scored = cand.join(sig_a, "id_a").join(sig_b, "id_b")
    # ONE F.expr parse (r16, driver-side work): the zip_with/aggregate
    # lambda Column form costs ~60 py4j round trips per invocation; the
    # parsed tree is the same fold (sameSemantics-pinned in tests)
    est = F.expr(
        "aggregate(zip_with(mh_a, mh_b, (x, y) -> CAST((x = y) AS INT)), "
        f"0, (acc, x) -> acc + x) / {float(num_hashes)!r}D"
    )
    return (
        scored.select("id_a", "id_b", est.alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= threshold)
    )


def _literal_id_in_predicate(docs: DataFrame, id_col: str, ids: list):
    """``id_col IN (<literals>)`` via ONE ``F.expr`` parse, or None when
    the id values have no safe literal rendering — the caller falls back
    to the semi join in that case.  Only integral and string ids are
    rendered; an id value that does not render (a non-int-parseable value
    in an integral column, r16 advisor) returns None instead of raising,
    mirroring the exotic-type fallback.  String escaping is config-aware
    (r16 advisor): the default parser unescapes ``\\`` and ``\\'``, but
    under ``spark.sql.parser.escapedStringLiterals=true`` (legacy/Hive
    literals) backslash sequences stay VERBATIM — rendering an escaped
    literal there would silently match the wrong string and drop verified
    pairs — so ids containing a quote or backslash push down only under
    the default parser; ids without either char render identically under
    both configs and always push down.  An empty id list yields a
    constant-false predicate (no candidates ⇒ no pairs).  Sorted literals
    so the built plan is deterministic for a given id set (plan caching /
    sameSemantics-friendly)."""
    dtype = docs.schema[id_col].dataType.simpleString()
    name = f"`{id_col}`"
    if not ids:
        return F.lit(False)
    if dtype in ("bigint", "int", "smallint", "tinyint"):
        try:
            body = ",".join(str(int(v)) for v in sorted(ids))
        except (ValueError, TypeError):
            return None  # candidate ids not int-renderable: semi join
    elif dtype == "string":
        vals = [str(v) for v in sorted(ids)]
        if any("'" in v or "\\" in v for v in vals):
            try:
                legacy = (
                    docs.sparkSession.conf.get(
                        "spark.sql.parser.escapedStringLiterals", "false"
                    )
                    or "false"
                ).lower() == "true"
            except Exception:
                legacy = True  # unknown parser mode: assume unsafe
            if legacy:
                return None  # no escape syntax is safe here: semi join
        body = ",".join(
            "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for v in vals
        )
    else:
        return None
    return F.expr(f"{name} IN ({body})")


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.05,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    allow_full_scan: bool = False,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs sharing ≥1 shingle.

    SCALE GUARD: the shingle self-join is quadratic in per-shingle document
    frequency — one boilerplate shingle shared by 1M docs alone creates
    10¹² join rows — so the unrestricted full-corpus form cannot be the
    default.  The API enforces picking a bounded mode:

    - ``candidates`` — an (id_a, id_b) DataFrame (e.g. from
      minhash_near_dup_pairs): shingles are exploded ONLY for docs that
      appear in some candidate pair, and output pairs are restricted to the
      candidate set.  This is the production tier: LSH proposes, exact
      Jaccard verifies (registry: dedup_minhash_verified).  NOTE (r16
      advisor): with the default ``broadcast_candidates=True`` this mode
      is EAGER at construction time — it runs the candidate plan and a
      bounded driver ``collect()`` (≤ _VERIFY_ID_PUSHDOWN_MAX+1 ids) to
      decide the scan-pushdown tier, so plan-audit callers that never
      execute the result still pay the proposal job; pass
      ``broadcast_candidates=False`` to stay fully lazy.
    - ``max_shingle_df`` — drop shingles occurring in more than N docs
      before the self-join, bounding per-shingle fan-out to N².  Jaccard is
      then computed over the DF-filtered shingle space on BOTH the
      intersection and union sides (consistent, slightly lenient on docs
      that are near-dups only via boilerplate).
    - ``allow_full_scan=True`` — the verbatim quadratic baseline, opt-in
      for test-scale oracle checks only.

    Shape: explode distinct shingles → [restrict] → self equi join on
    shingle → pair-count (intersection) → join per-doc sizes → Jaccard.
    """
    if candidates is None and max_shingle_df is None and not allow_full_scan:
        raise ValueError(
            "ngram_jaccard_pairs is all-pairs on the full corpus; pass "
            "candidates=<pairs df>, max_shingle_df=<n>, or "
            "allow_full_scan=True (test scale only)"
        )
    if candidates is not None and max_shingle_df is not None:
        # The r6 pairwise fast path scores candidate pairs over the FULL
        # shingle space; composing it with a DF filter (the pre-r6 behavior
        # when both were passed) yields different values.  Rather than
        # silently ignoring one mode, reject the combination — callers
        # wanting DF-filtered scoring of a candidate set should pre-filter
        # their corpus or use the max_shingle_df mode alone.
        raise ValueError(
            "candidates and max_shingle_df are mutually exclusive: the "
            "pairwise candidate path scores over the full shingle space"
        )
    if candidates is not None:
        # The candidate set is referenced THREE times below (both sides of
        # the wanted-ids union + the pair semi join); without a lineage cut
        # each reference re-expands the whole proposal subplan — for the
        # MinHash tier that triples the banding pipeline (measured: a
        # 90-Exchange printed plan and 5.4 s warm at sf0.1 vs 15 Exchanges
        # and ~1.5 s with the cut).  Candidates are small by contract
        # (that's the point of LSH proposal), so a lazy localCheckpoint —
        # computed once at first use, then served from block storage — is
        # the right trade; same move the connected-components loop makes.
        # Ledgered (r15): the blocks live until the session drains them
        # via release_candidate_checkpoints (the returned plan reads from
        # them, so auto-eviction would break still-held results).
        candidates = reuse.lazy_checkpoint(candidates)
    # parallelism fix on the BASE scan, before any join is stacked on top:
    # ensure_parallelism probes .rdd partition counts, which under AQE
    # would otherwise execute the candidate subplan just to count partitions
    docs = ensure_parallelism(docs)
    if candidates is not None:
        # PAIRWISE fast path: with a bounded candidate set the exact score
        # needs no shingle self-join at all — attach each side's distinct
        # shingle ARRAY by id and score array_intersect per pair.
        # Identical values to the explode formulation (both operate on the
        # distinct shingle set; n_inter >= 1 preserves its
        # no-overlap-no-row behavior), ~half the stages and zero shingle
        # exchange.  The explode/self-join shape below remains for the
        # max_shingle_df / full-scan modes, where pairs are not known in
        # advance.
        #
        # The shingle projection sits ABOVE a semi join against the
        # candidate id set, not on the raw scan: Catalyst does not defer
        # scan-side expressions across a join, so projecting first would
        # tokenize+shingle EVERY corpus doc on both attach sides (2N regex
        # passes) to score a candidate set that names a tiny fraction of
        # them.  With the semi join first (candidate ids are checkpointed
        # and broadcast), shingling runs only for docs that appear in some
        # pair — the r7 cold profile showed the full-corpus version
        # double-shingling was ~1/3 of incremental admission's wall-clock.
        # single reference to the candidate plan (explode beats a
        # two-branch union: the lazy checkpoint collapses re-reads at
        # runtime, but the printed plan — and the census that audits it —
        # would still carry the subplan twice)
        wanted = (
            candidates.select(
                F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
            ).distinct()
        )
        # LITERAL-IN SCAN PUSHDOWN (r16, guide §6.3): in the
        # broadcast_candidates regime the candidate id set is small BY
        # CONTRACT, so read it to the driver (bounded probe: limit
        # cap+1 over the checkpointed candidate set — the same
        # materialization the first downstream use pays anyway) and
        # filter the corpus scan with one parsed literal IN instead of a
        # broadcast semi join.  The semi join bounded the shingling
        # COMPUTE to candidate docs but the scan still read every row's
        # text bytes before the join filtered them; the IN predicate
        # reaches the parquet reader (PushedFilters: In(doc_id, …),
        # plan-asserted in tests), so at scale the verify tier reads
        # candidate row groups, not the corpus.  Identical output: an IN
        # over the distinct candidate ids keeps exactly the rows the
        # semi join kept (NULL ids match neither).  Above the cap, or
        # for exotic id types, the explicit-broadcast semi join below
        # remains — a hard commitment Catalyst would not make on its
        # own: without the hint it plans a sort-merge semi join (2
        # Exchanges + 2 Sorts on the DOCUMENT side — the side we are
        # trying not to move).  A candidate set naming O(corpus) ids
        # (high-duplication corpus, permissive banding) would blow the
        # broadcast-table limit where a shuffle semi join completes —
        # callers in that regime pass ``broadcast_candidates=False`` and
        # let AQE re-promote the join if the measured size allows.
        pred = None
        if broadcast_candidates:
            probe = (
                wanted.where(F.col(id_col).isNotNull())
                .limit(_VERIFY_ID_PUSHDOWN_MAX + 1)
                .collect()
            )
            if len(probe) <= _VERIFY_ID_PUSHDOWN_MAX:
                pred = _literal_id_in_predicate(
                    docs, id_col, [r[0] for r in probe]
                )
        if pred is not None:
            sh = docs.where(pred).select(
                F.col(id_col),
                word_shingles(F.col(text_col), shingle_words).alias("_sh"),
            )
        else:
            if broadcast_candidates:
                wanted = F.broadcast(wanted)
            sh = docs.join(wanted, id_col, "left_semi").select(
                F.col(id_col),
                word_shingles(F.col(text_col), shingle_words).alias("_sh"),
            )
        if broadcast_candidates:
            # The (id, shingles) attach table is referenced TWICE below
            # (id_a side and id_b side) and each reference re-expands the
            # whole corpus scan + semi join + shingling — the verify tier
            # read the documents TEXT column twice per invocation (r16
            # profile: the incremental-admission verify phase was 2 full
            # text scans for a candidate-bounded output).  The rows are
            # bounded by the SAME contract that justifies broadcasting the
            # id set (candidates are small — that's the point of LSH
            # proposal), so a ledgered lazy checkpoint computes the scan +
            # shingling once and serves both join sides from blocks:
            # measured 1.10 s → 0.85 s warm / −1 corpus text scan at
            # sf0.1, identical pair set.  In the opt-out regime
            # (broadcast_candidates=False: candidate set ~O(corpus)) the
            # shingle table is NOT contractually small, so we keep the
            # recompute-over-materialize trade exactly as before.
            # r17 (verdict #3): ledgered persist, not localCheckpoint —
            # same one-scan plan, recomputable after executor loss.
            sh = reuse.shared_persist(sh)
        pairs = (
            candidates.select("id_a", "id_b")
            .distinct()
            .filter(F.col("id_a") < F.col("id_b"))
            .join(
                sh.select(F.col(id_col).alias("id_a"), F.col("_sh").alias("_sha")),
                "id_a",
            )
            .join(
                sh.select(F.col(id_col).alias("id_b"), F.col("_sh").alias("_shb")),
                "id_b",
            )
        )
        n_inter = F.size(F.array_intersect("_sha", "_shb"))
        jac = n_inter.cast("double") / (
            F.size("_sha") + F.size("_shb") - n_inter
        ).cast("double")
        return (
            pairs.select(
                "id_a", "id_b", n_inter.alias("n_inter"), jac.alias("jaccard")
            )
            .filter((F.col("n_inter") >= 1) & (F.col("jaccard") >= threshold))
        )
    expl = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("shingle"),
    )
    if max_shingle_df is not None:
        surviving = (
            expl.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        expl = expl.join(surviving, "shingle", "left_semi")

    # per-doc shingle-set size over the (possibly filtered) shingle space,
    # so intersection and union are consistent
    sizes = expl.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = expl.select(F.col(id_col).alias("id_a"), "shingle")
    b = expl.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(
            candidates.select("id_a", "id_b").distinct(), ["id_a", "id_b"], "left_semi"
        )
    sized = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n_shingles").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_shingles").alias("nb")), "id_b")
    )
    jac = F.col("n_inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_inter")
    ).cast("double")
    return sized.select(
        "id_a", "id_b", F.col("n_inter"), jac.alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
) -> DataFrame:
    """Connected components over near-dup pairs: (node, component) where
    component is the minimum node id reachable through the pair graph —
    the step that turns pairwise dedup output into keep-one-per-cluster.

    Iterative min-label propagation with pointer jumping: each round every
    node takes the min of its own label and its neighbors' labels, then
    shortcuts through its label's label (component <- label(component)).
    The shortcut halves chain depth per round, so convergence is
    O(log diameter) instead of O(diameter) — a pathological 10M-node chain
    needs ~24 rounds, not 10M (dup clusters are near-cliques, so typically
    2-3 either way).  The driver loop materializes each round via
    localCheckpoint — required anyway to cut the exponential lineage — and
    stops at the first round with no label change.  Per round: one join
    edges⋈labels + one groupBy(node) min + one labels self-join — all
    keyed by node id, no skew beyond component size.

    ADAPTIVE SMALL-GRAPH TIER: after the (always-distributed) edge
    symmetrize+dedup materializes, its exact row count is known; if the
    graph is at most ``local_threshold`` directed edges it is consolidated
    on the driver with union-find instead of running the iterative
    distributed loop.  Rationale: the pair graphs this operator consumes
    are verified NEAR-DUP pairs — already reduced by LSH proposal + exact
    verification to a small fraction of the corpus — and the distributed
    loop's per-round cost on a tiny graph is pure job-scheduling overhead
    (the r7 cold profile: ~3.5 s for a 189-edge graph, >90% scheduling).
    This is the same size-gated physical-plan choice Spark itself makes
    with autoBroadcastJoinThreshold: the logical result is identical
    (component = min reachable id, bit-for-bit), only the strategy
    changes, and the decision input is a materialized count, not a guess.
    100k edges ≈ a few MB collected — far under driver headroom — while a
    whole-corpus dedup graph at 100 TB exceeds the threshold and takes
    the distributed loop unchanged.  ``local_threshold=0`` forces the
    distributed path (tests exercise both tiers against each other).

    Raises RuntimeError if ``max_iter`` rounds pass without convergence
    (silently returning partial labels would split one duplicate cluster
    into several and keep extra survivors downstream).
    """
    edges = pairs.select(
        F.col(left_col).alias("src"), F.col(right_col).alias("dst")
    )
    edges = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct().localCheckpoint(eager=True)
    if edges.count() <= local_threshold:
        out = _connected_components_local(edges)
        # the local tier collected the edge set; its checkpoint blocks
        # are dead the moment the driver holds the labels (r15 — the
        # kmeans_centroids_chained release discipline applied here)
        reuse.release(edges)
        return out
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    prev_round = labels
    for _ in range(max_iter):
        # min over neighbors' labels, left-joined back onto own label (no
        # union of labels with a labels-derived plan: that self-reference
        # trips a Catalyst Union constraint-rewrite bug, and the join form
        # needs one fewer pass over labels anyway).  The round is TWO jobs:
        # one eager checkpoint materializing the new labels (the lazy
        # `merged` checkpoint folds into it — computed once, served to both
        # of its consumers) and one near-free convergence probe over the
        # just-cached blocks.  The earlier 4-job round (separate merged /
        # new_labels checkpoints + a join-based change check) doubled
        # wall-clock on small graphs purely in scheduling overhead.
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.min("component").alias("nmin"))
        )
        merged = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.col("component").alias("old_component"),
                F.least(
                    F.col("component"), F.coalesce("nmin", "component")
                ).alias("component"),
            )
            .localCheckpoint(eager=False)
        )
        # pointer jump: a label is always a node in the same component (it
        # starts as self and only ever becomes a reachable min), so
        # relabeling through the label's own label stays in-component while
        # halving the depth of any label chain.
        ptr = merged.select(
            F.col("node").alias("p_node"), F.col("component").alias("p_component")
        )
        new_component = F.least(
            F.col("component"), F.coalesce("p_component", "component")
        )
        new_labels = (
            merged.join(ptr, merged.component == ptr.p_node, "left")
            .select(
                "node",
                new_component.alias("component"),
                (new_component != F.col("old_component")).alias("_changed"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter("_changed").limit(1).count()
        # this round's labels are materialized (eager checkpoint, and the
        # probe above just read them): the lazy `merged` blocks that
        # folded into them and the PREVIOUS round's label table are dead
        # weight now — free both (r15, the chained-k-means release
        # discipline; previously every round's blocks lived until
        # ContextCleaner GC, O(rounds × nodes) retained per call)
        reuse.release(merged)
        reuse.release(prev_round)
        prev_round = new_labels
        labels = new_labels.select("node", "component")
        if changed == 0:
            # the returned labels read ONLY the final round's checkpoint;
            # the symmetrized edge table is loop-internal state
            reuse.release(edges)
            return labels
    # non-convergence: nothing escapes this frame, so release ALL loop
    # state before raising — the caller's likely next move is an
    # immediate retry with a higher max_iter, and stacking O(nodes +
    # edges) leaked blocks per failed attempt is the exact retention the
    # in-loop releases exist to prevent (r15 review)
    reuse.release(prev_round)
    reuse.release(edges)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds; "
        "the pair graph has a longer label chain than expected — raise "
        "max_iter (rounds needed ~ log2(graph diameter))"
    )


def _union_find_min_labels(edge_iter) -> dict:
    """Union-find with path compression over an iterable of (a, b) edges;
    returns {node: min node id in its component} — the exact label
    contract of the distributed min-propagation loop, including its NULL
    behavior: a None endpoint is a node (the distinct-src node list keeps
    it) but its equi-joins never match, so it stays an isolated node
    labeled None and merges nothing."""
    parent: dict = {}
    saw_null = False

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in edge_iter:
        if a is None or b is None:
            saw_null = True
            for n in (a, b):
                if n is not None and n not in parent:
                    parent[n] = n
            continue
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        if r not in comp_min or n < comp_min[r]:
            comp_min[r] = n
    labels = {n: comp_min[find(n)] for n in parent}
    if saw_null:
        labels[None] = None
    return labels


def _connected_components_local(edges: DataFrame) -> DataFrame:
    """Driver-side union-find for the small-graph tier of
    connected_components: ``edges`` is the already-materialized
    symmetrized distinct edge set (so ``src`` covers every node).  Output
    contract is identical to the distributed loop: (node, component) with
    component = min node id in the component, same column types as the
    input ids, one row per distinct node."""
    from pyspark.sql.types import StructField, StructType

    spark = edges.sparkSession
    node_type = edges.schema["src"].dataType
    schema = StructType(
        [
            StructField("node", node_type, True),
            StructField("component", node_type, True),
        ]
    )
    labels = _union_find_min_labels((row[0], row[1]) for row in edges.collect())
    return spark.createDataFrame(list(labels.items()), schema)


def _admission_rejects_local(tagged_rows) -> set:
    """Driver-side admission algebra for the small-set tier of
    incremental_near_dup_filter: ``tagged_rows`` is the collected verified
    pair list with newness flags (id_a, id_b, _na, _nb).  Restates the
    distributed flow exactly — reject new docs with a verified old-side
    near-dup; among the survivors, cluster the new-new pairs and reject
    every non-min member — and returns the set of REJECTED new ids (the
    admitted set is everything else, applied as a filter by the caller)."""
    old_dup = set()
    for r in tagged_rows:
        if r[2] and not r[3]:
            old_dup.add(r[0])
        if r[3] and not r[2]:
            old_dup.add(r[1])
    nn_edges = [
        (r[0], r[1])
        for r in tagged_rows
        if r[2] and r[3] and r[0] not in old_dup and r[1] not in old_dup
    ]
    labels = _union_find_min_labels(nn_edges)
    dropped = {n for n, c in labels.items() if c != n}
    return old_dup | dropped


def duplicate_clusters(
    pairs: DataFrame,
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Cluster summary over near-dup pairs: one row per duplicate cluster
    with its size and the deterministic survivor (min id)."""
    comp = connected_components(pairs, left_col, right_col)
    return comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.min("node").alias("keep_id"),
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int = 1,
    dim: int = 64,
    allow_full_scan: bool = False,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cos_sim) with
    cosine similarity ≥ ``threshold``.

    Two tiers, same output contract:
    - ``n_planes=None`` + ``allow_full_scan=True`` — EXACT all-pairs
      (a nested-loop self-join, O(n²)); the oracle-checkable baseline,
      opt-in because it cannot be the default at corpus scale.
    - ``n_planes=k`` — hyperplane-LSH bucketed: each vector is bucketed by
      k deterministic random-hyperplane sign bits per table; candidate
      pairs share some table's bucket directly or under a 1-bit probe
      flip, then exact cosine verifies.  ``n_tables`` OR-amplifies recall
      (miss probability decays exponentially in the table count) at
      n_tables× bucketing cost — the scores are exact either way, so with
      enough tables the output EQUALS the full-scan tier on a given
      corpus.  The bucket join carries (id, table, bucket) only — vectors
      are re-attached by narrow id joins, so the shuffle never drags
      embedding payloads through the candidate fan-out.

    ``max_bucket_size`` (LSH tier only): same skew contract as the
    MinHash band joins (_cap_band_buckets) — a cluster of m
    near-identical embeddings shares its (table, bucket) cells and emits
    a C(m,2) clique; the cap excludes oversized buckets' members from
    the join, trading recall on mega-clusters for a bounded output.
    Ignored by the exact tier (which is already an explicit O(n²)
    opt-in).
    """
    from bulkfhirloader_spark.operators.similarity import (
        cosine_with_norms,
        l2_norm,
        lsh_tables,
        _table_buckets,
    )

    # norms computed once per VECTOR before any pair join — per-pair norm
    # recompute would multiply the norm work by the pair fan-out
    sides = {
        s: emb.select(
            F.col(id_col).alias(f"id_{s}"),
            F.col(vec_col).alias(f"v_{s}"),
            l2_norm(F.col(vec_col)).alias(f"n_{s}"),
        )
        for s in ("a", "b")
    }
    sim = cosine_with_norms(
        F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
    ).alias("cos_sim")

    if n_planes is None:
        if not allow_full_scan:
            raise ValueError(
                "exact embedding_cosine_pairs is O(n²); pass n_planes=<k> "
                "for the LSH tier or allow_full_scan=True (test scale only)"
            )
        cand = sides["a"].join(sides["b"], F.col("id_a") < F.col("id_b"))
        return cand.select("id_a", "id_b", sim).filter(F.col("cos_sim") >= threshold)

    tables = lsh_tables(dim, n_planes, n_tables)
    b = emb.select(
        F.col(id_col),
        F.posexplode(_table_buckets(vec_col, tables)).alias("tbl", "bucket"),
    )
    if max_bucket_size is not None:
        # Unlike the MinHash band join, the join below is on (tbl, probe)
        # post-explode, so this window's (tbl, bucket) Exchange is an
        # EXTRA shuffle for the left side (narrow 3-long rows; the right
        # side joins on probe=bucket so the partitioning is reusable
        # there) and both sides dedupe the windowed subplan through
        # ReuseExchange — see _cap_band_buckets's scoped claim.
        b = _cap_band_buckets(b, max_bucket_size, keys=("tbl", "bucket"))
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << i).cast("long"))
                for i in range(n_planes)
            ],
        )
    )
    left = b.select(F.col(id_col).alias("id_a"), "tbl", probes.alias("probe"))
    right = b.select(
        F.col(id_col).alias("id_b"), "tbl", F.col("bucket").alias("probe")
    )
    cand = (
        left.join(right, ["tbl", "probe"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    cand = cand.join(sides["a"], "id_a").join(sides["b"], "id_b")
    return cand.select("id_a", "id_b", sim).filter(F.col("cos_sim") >= threshold)


def semantic_dedup_pairs(
    emb: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    max_cluster_size: int | None = None,
    precomputed_assignments: DataFrame | None = None,
    assign_tier: str = "fold",
    precomputed_centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, then compare pairs
    ONLY within a cluster — ``(id_a, id_b, cluster_id, cos_sim)`` with
    ``cos_sim >= threshold``.

    Where this sits among the embedding dedup tiers: the exact tier
    (``embedding_cosine_pairs`` full-scan) is O(n²) globally; the LSH tier
    bounds candidates by random-hyperplane buckets — data-OBLIVIOUS
    geometry.  SemDeDup bounds them by a data-ADAPTIVE partition: the
    deterministic Lloyd fit (``similarity.kmeans_centroids``) places the
    cuts where the corpus is sparse, so semantically-unrelated pairs are
    never scored.  The published trade: pairs straddling a cluster
    boundary are unscored by design (recall loss concentrated on
    borderline pairs), in exchange for sum(m_i²) pair work instead of n².

    Scale shape: the Lloyd fit is n_iter + 1 corpus passes with zero-
    shuffle assignments (see kmeans_centroids); the pair stage is ONE
    self-join keyed on cluster_id.  Two knobs own the skew story:
    ``k`` must scale with the corpus (k ≈ N / target_cluster_size — at
    constant k a 100× corpus makes every cluster 100× heavier and the
    per-cluster clique 10⁴×), and ``max_cluster_size`` is the hard cap —
    the same contract as the MinHash band cap (_cap_band_buckets): members
    of an oversized cluster beyond the cap (kept in ascending id order,
    deterministic) are excluded from the join, trading recall on
    mega-clusters for a bounded output.  Norms are computed once per
    vector before the join, never per pair.

    ``precomputed_assignments`` (an ``(id_col, cluster_id)`` DataFrame)
    skips the in-call Lloyd fit — the fit-once/pair-many deployment
    shape (one fit serves the pair stage, the streaming gate, and any
    re-threshold run), and what lets a measurement time the pair stage
    alone.  ``k``/``n_iter``/``round_dp`` are ignored when it is given.
    ``assign_tier="blas"`` runs the in-call fit through the Arrow/dgemm
    pass (see similarity.kmeans_centroids — the scale tier for k ∝ N;
    the default ``fold`` stays the oracle-restatable one).

    ``precomputed_centroids`` (r14, r13 verdict #6 — a ``(c_label,
    centroid)`` DataFrame, e.g. from similarity.kmeans_centroids_chained)
    skips the fit AND keeps the centroid relation DISTRIBUTED end to
    end: the assignment is ``classify_nearest_centroid``'s broadcast
    tier (centroids collapse to one broadcast row JVM-SIDE — zero
    centroid bytes ever cross the Python driver), so fits past the
    collected tier's k × dim × 8 B driver ceiling feed the pair stage
    directly.  Same rounded-argmax contract, pytest-pinned identical
    pairs/survivors at oracle-checkable k.  Mutually exclusive with
    ``precomputed_assignments`` (which is strictly more precomputed).

    ``assign_tier="blas"`` COMPOSES with ``precomputed_centroids`` (r15,
    the r14 verdict's Next round #1): the assignment under the given
    frozen fit runs as similarity.kmeans_assign_blas — one dgemm per
    Arrow batch against a single centroid broadcast — instead of the
    k × dim fold expression per row.  This is the deployment pairing at
    the k ∝ N operating point: SCALE.md's r14 measurement had the fold
    assignment at 185.7 s (n=50k, k=10⁴, d=16) vs 12.6 s for the
    identical dgemm pass on the same run, so a chained fit that escaped
    the driver ceiling was then throttled by its own pair-stage
    assignment.  The argmax contract is kmeans_assign_blas's (rounded
    scores, ties to the smallest cluster id; NOT bit-promised equal —
    numpy half-even rounding on knife-edge doubles), and NULL-id rows
    are dropped plan-side as in every blas path; the fold tier stays
    the oracle-restatable default.  One bounded driver transit remains:
    the centroid DataFrame is collected ONCE into the broadcast (k ×
    dim × 8 B total — the same order MLlib ships a fitted model), vs
    the collected fit's once-PER-ITERATION round-trip the chained fit
    exists to avoid.
    """
    from bulkfhirloader_spark.operators.similarity import (
        _drop_degenerate_vectors,
        classify_nearest_centroid,
        cosine_with_norms,
        kmeans_assign,
        kmeans_assign_blas,
        l2_norm,
    )

    if assign_tier not in ("fold", "blas"):
        # validated here, not just in kmeans_assign: the precomputed-
        # centroids branch dispatches on the string itself, and a typo
        # silently falling through to the fold tier would quietly pay
        # the 185.7 s-vs-5.8 s cost this knob exists to remove
        raise ValueError(
            f"assign_tier must be 'fold' or 'blas', got {assign_tier!r}"
        )
    if precomputed_assignments is not None and precomputed_centroids is not None:
        raise ValueError(
            "pass precomputed_assignments OR precomputed_centroids, not "
            "both — assignments are already the centroid fit applied"
        )
    if precomputed_assignments is not None:
        assigned = precomputed_assignments.select(id_col, "cluster_id")
    elif precomputed_centroids is not None:
        if assign_tier == "blas":
            assigned = kmeans_assign_blas(
                emb,
                precomputed_centroids,
                vec_col=vec_col,
                id_col=id_col,
                round_dp=round_dp,
            ).select(id_col, "cluster_id")
        else:
            assigned = classify_nearest_centroid(
                _drop_degenerate_vectors(emb, vec_col),
                precomputed_centroids,
                vec_col=vec_col,
                id_cols=(id_col,),
                round_dp=round_dp,
            ).select(
                id_col, F.col("predicted_label").alias("cluster_id")
            )
    else:
        assigned = kmeans_assign(
            emb, k=k, n_iter=n_iter, vec_col=vec_col, id_col=id_col,
            round_dp=round_dp, assign_tier=assign_tier,
        ).select(id_col, "cluster_id")
    if max_cluster_size is not None:
        w = Window.partitionBy("cluster_id").orderBy(id_col)
        assigned = (
            assigned.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= max_cluster_size)
            .drop("_rn")
        )
    body = emb.select(
        F.col(id_col),
        F.col(vec_col).alias("_v"),
        l2_norm(F.col(vec_col)).alias("_n"),
    )
    sides = {
        s: assigned.join(body, id_col).select(
            F.col(id_col).alias(f"id_{s}"),
            "cluster_id",
            F.col("_v").alias(f"v_{s}"),
            F.col("_n").alias(f"n_{s}"),
        )
        for s in ("a", "b")
    }
    sim = cosine_with_norms(
        F.col("v_a"), F.col("v_b"), F.col("n_a"), F.col("n_b")
    ).alias("cos_sim")
    return (
        sides["a"]
        .join(sides["b"], "cluster_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "cluster_id", sim)
        .filter(F.col("cos_sim") >= threshold)
    )


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", bits: int = 64
) -> DataFrame:
    """64-bit SimHash: per token hash, add ±1 to each bit plane weighted by
    occurrence; sign of each plane's sum forms the signature.

    Plan shape mirrors minhash_signatures: a PURE PROJECTION — hash the
    token array once, then ONE aggregate fold whose accumulator is the
    array of 64 bit-plane one-counts, each step zip_with-ing the counters
    against ``getbit(h, i)`` (BitwiseGet takes a COLUMN position, unlike
    the shiftright Python wrapper — that's what makes the single-traversal
    form expressible).  The earlier formulation ran one fold PER PLANE: 64
    re-traversals of the token array and a 64-fold codegen blowup, measured
    ~3× slower end-to-end on the simhash registry query.  Sign rule: plane
    i is set iff ones*2 > n_tokens — identical (including ties) to the old
    ±1-sum > 0, so signatures are bit-identical.  No explode, no groupBy:
    zero shuffle at any corpus size.

    Docs with zero tokens produce no signature (SimHash is undefined there),
    same as MinHash.
    """
    ht = F.transform(
        tokens(normalize_text(F.col(text_col))), lambda t: F.xxhash64(t)
    )
    d = (
        ensure_parallelism(docs)
        .select(F.col(id_col), ht.alias("ht"))
        .filter(F.size("ht") > 0)
    )
    # constant arrays as ONE F.expr parse each (r16, guide §4 driver-side
    # work; ~6×bits py4j round trips before).  CAST(n AS BIGINT) spelled
    # out because these sit inside the fold's lambda body, where
    # ConstantFolding does not reach — the parsed trees must match the
    # old Column form node-for-node (sameSemantics-pinned in tests).
    idx = F.expr("array(" + ", ".join(str(i) for i in range(bits)) + ")")
    zeros = F.expr(
        "array(" + ", ".join(["CAST(0 AS BIGINT)"] * bits) + ")"
    )
    ones = F.aggregate(
        "ht",
        zeros,
        lambda acc, h: F.zip_with(
            acc, idx, lambda a, i: a + F.getbit(h, i).cast("long")
        ),
    )
    # Pack sign bits with Python-int literals (bit 63 contributes the int64
    # sign — harmless for equality/XOR).  Disjoint bit values sum without
    # overlap, so a fold-sum assembles the signature.
    bitvals = F.expr(
        "array("
        + ", ".join(
            f"CAST({1 << i if i < 63 else -(1 << 63)} AS BIGINT)"
            for i in range(bits)
        )
        + ")"
    )
    n = F.size("ht").cast("long")
    sig = F.aggregate(
        F.zip_with(
            ones,
            bitvals,
            lambda c, bv: F.when(c * 2 > n, bv).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda s, x: s + x,
    )
    return d.select(F.col(id_col), sig.alias("simhash"))


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    band_bits: int = 16,
    max_hamming: int = 3,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup candidates: docs whose signatures agree on at least
    one 16-bit band (pigeonhole: any pair within Hamming distance 3 of a
    64-bit signature shares one of 4 bands), verified by exact Hamming
    distance ≤ max_hamming.

    The default geometry's recall guarantee is DETERMINISTIC, not
    probabilistic: with 64/band_bits bands, flipping <= (64/band_bits - 1)
    bits cannot touch every band, so at max_hamming within that bound no
    true pair can be missed (pytest-pinned on planted signatures in
    tests/test_dedup_similarity.py).  The registry's test-scale query
    widens to band_bits=4/max_hamming=15 because the shipped corpus's
    near-dups sit farther apart — that geometry's recall is measured, not
    guaranteed (see SCALE.md).

    ``sigs`` injects precomputed (id, simhash) rows — the production flow
    where signatures live in a stored table appended per batch — and is
    what the geometry tests drive directly."""
    if sigs is None:
        # The signature projection (tokenize + per-token hash + 64-bit
        # fold, all interpreted HOFs) feeds BOTH self-join sides below;
        # without a cut each side re-ran it over the whole corpus (r16,
        # guide §2.4 — same double-execution as the capped band table:
        # one side's broadcast build defeats ReuseExchange).  A ledgered
        # persist computes it once — (id, int64) rows, narrow at any
        # corpus size, executor-loss-safe (r17: was a localCheckpoint);
        # drains via release_candidate_checkpoints.
        # Caller-injected sigs (the stored-table flow) stay untouched: a
        # columnar scan read twice needs no materialization.
        sigs = reuse.shared_persist(simhash_signatures(docs, id_col, text_col))
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    banded = sigs.select(
        F.col(id_col),
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * band_bits).bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    a = banded.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"), "band_idx", "band_val")
    b = banded.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"), "band_idx", "band_val")
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def survivors_by_score(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    left_col: str = "id_a",
    right_col: str = "id_b",
) -> DataFrame:
    """Quality-aware survivor selection: cluster the near-dup pairs, then
    keep the HIGHEST-scoring member of each cluster (ties to the smallest
    id) — what production dedup actually does instead of keep-min-id: when
    a crawl holds five near-copies, you keep the cleanest one, not the one
    with the lowest id.

    One row per cluster: ``component``, ``cluster_size``, ``keep_id``,
    ``keep_score``.  Scale shape: components come from the iterative
    min-label propagation (O(diameter) rounds over (node, component) pairs
    only); the score attach is an equi join on the node id; the argmax is
    ``max(struct(score, -id))`` under ``groupBy(component)`` — partial
    aggregation collapses cluster members map-side, so the exchange
    carries one small row per cluster member, never document bodies.
    """
    comp = connected_components(pairs, left_col, right_col)
    scored = comp.join(
        scores.select(F.col(id_col).alias("node"), F.col(score_col).alias("_s")),
        on="node",
    )
    agg = scored.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(F.struct(F.col("_s").alias("s"), (-F.col("node")).alias("neg_id"))).alias(
            "_m"
        ),
    )
    return agg.select(
        "component",
        "cluster_size",
        (-F.col("_m.neg_id")).alias("keep_id"),
        F.col("_m.s").alias("keep_score"),
    )


def signature_store_write(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_words: int = 3,
    mode: str = "append",
    bands: int | None = None,
    num_buckets: int | None = None,
) -> None:
    """Persist MinHash signatures for ``docs`` into the signature store at
    ``path`` — the deployment half of the incremental-admission contract:
    the existing side is scanned as a columnar projection instead of
    re-shingling the corpus text (SCALE.md's fixed-batch table: ~4.4×
    cost for a 10× corpus, all of it that recompute).

    ``<path>/sigs`` always holds plain (id, minhash array<long>) rows,
    ~K longs per doc, re-bandable any way that divides ``num_hashes``;
    (num_hashes, shingle_words) is the geometry.  ``bands=<b>,
    num_buckets=<n>`` (they come together) also persists the banded
    projection, (id, band_idx, band_hash) rows at ``<path>/bands``
    bucketed on ``band_hash``, so incremental_near_dup_filter reads only
    the buckets of the new batch's band hashes: the store-side probe
    follows the probed key set, not the corpus.  Banding is then pinned
    at write time.  The meta lifecycle, refusals (``banded-layout
    mismatch``) and single-writer contract are the family's
    (sources.stores); each appended batch is the admitted, hence
    id-distinct, subset."""
    if (num_buckets is None) != (bands is None):
        raise ValueError(
            "signature_store_write: bands and num_buckets come together — "
            "the bucketed layout pre-projects band rows (bands pinned at "
            "write time), a plain store stays re-bandable and needs neither"
        )
    if num_buckets is not None:
        require_band_geometry(num_hashes, bands)
    sigs = minhash_signatures(
        docs.select(F.col(id_col), F.col(text_col)),
        id_col,
        text_col,
        num_hashes,
        shingle_words,
    )
    if num_buckets is not None:
        # two writes read the signatures: shingle + minhash once
        sigs = sigs.persist()
    try:
        with SIGNATURE_BANDS.writing(
            docs.sparkSession, path, mode, (num_hashes, shingle_words),
            (bands, num_buckets),
        ) as save:
            sigs.write.mode(mode).parquet(f"{path}/sigs")
            if num_buckets is not None:
                save(_sig_bands(sigs, id_col, bands, num_hashes)
                     .withColumnRenamed(id_col, "id"))
    finally:
        sigs.unpersist()


register_signature_bands_table = SIGNATURE_BANDS.register


def signature_store_read(
    spark, path: str, num_hashes: int, shingle_words: int, id_col: str = "doc_id"
) -> DataFrame:
    """(id, minhash) rows of the store at ``path``, geometry-validated
    against the caller's parameters (hard error on mismatch — see
    signature_store_write)."""
    SIGNATURE_BANDS.meta(spark, path, (num_hashes, shingle_words))
    df = spark.read.parquet(f"{path}/sigs")
    # The store's id column is POSITIONAL semantics (whatever id_col the
    # writer used); detect it generically as the single non-'minhash'
    # column so a store written under one id name reads back under any
    # other — a raw AnalysisException on the final select would otherwise
    # be the only signal, unlike the curated geometry-mismatch error.
    id_candidates = [c for c in df.columns if c != "minhash"]
    if "minhash" not in df.columns or len(id_candidates) != 1:
        raise ValueError(
            f"corrupt signature store at {path}/sigs: expected exactly "
            f"(<id>, minhash) columns, found {df.columns}"
        )
    if id_candidates[0] != id_col:
        df = df.withColumnRenamed(id_candidates[0], id_col)
    return df.select(F.col(id_col), F.col("minhash"))


def _check_store_ids(
    spark, existing: DataFrame, store: str, id_col: str, num_hashes: int,
    shingle_words: int,
) -> None:
    """The opt-in ``validate_store_ids`` guard: the signature store holds
    EXACTLY ``existing``'s ids.  Each direction fails differently: a store
    id absent from ``existing`` proposes pairs that silently FAIL exact
    verification (the verify tier reads existing's text by id); an
    ``existing`` id absent from the store — the likelier drift, a forgotten
    or crashed append — has no signature row and is never proposed.  Both
    end in silent duplicate admission.  NULL ids are excluded from both
    projections: an anti join never matches NULL, so a NULL row in
    ``existing`` would always count as absent from the store."""
    notnull = F.col(id_col).isNotNull()
    sigs = signature_store_read(spark, store, num_hashes, shingle_words, id_col)
    store_ids, ex_ids = sigs.select(id_col).where(notnull), existing.select(id_col).where(notnull)
    n_orphans = store_ids.join(ex_ids, id_col, "left_anti").count()
    n_missing = ex_ids.join(store_ids, id_col, "left_anti").count()
    if n_orphans or n_missing:
        raise ValueError(
            f"signature store at {store} does not match `existing`: {n_orphans} "
            f"store id(s) absent from existing (their proposed pairs cannot be "
            f"exact-verified), {n_missing} existing id(s) absent from the store "
            f"(never proposed at all) — either way near-dups would be silently "
            f"admitted; rebuild or append the store, or supply the matching corpus"
        )


def _band_rows(
    spark, union_docs: DataFrame, new_batch: DataFrame, store: str | None,
    id_col: str, text_col: str, num_hashes: int, bands: int,
    shingle_words: int,
) -> DataFrame:
    """``(id, band_idx, band_hash)`` rows of existing ∪ new, by tier:

    - recompute (no store): banding over the memoized signatures of both
      sides (warm re-runs of one batch reuse one materialization);
    - stored signatures: the store's ``(id, minhash)`` columnar scan plus
      the new batch's signatures — no re-shingling of the corpus;
    - bucketed probe (a store written with ``bands`` and
      ``num_buckets``): the store's band table, with the new batch's band
      hashes pushed down as an IN filter, so bucket pruning and sorted-page
      skipping make the read follow the probed key set, not the corpus
      (see _BAND_PROBE_PUSHDOWN_MAX).  Banding is pinned at write time.
      The IN filter keeps or drops WHOLE (band_idx, band_hash) buckets, so
      _cap_band_buckets decides identically on every tier."""

    def sigs_of(docs: DataFrame) -> DataFrame:
        return cached_minhash_signatures(
            docs, id_col, text_col, num_hashes, shingle_words
        )

    geo = (id_col, bands, num_hashes)
    if store is None:
        return _sig_bands(sigs_of(union_docs), *geo)
    store_bands, store_buckets = SIGNATURE_BANDS.layout_of(
        SIGNATURE_BANDS.meta(spark, store, (num_hashes, shingle_words))
    )
    if store_buckets is not None and store_bands != bands:
        raise ValueError(
            f"signature store at {store} was banded at write time with "
            f"bands={store_bands}; caller asked bands={bands} — the bucketed "
            f"layout pins banding (rebuild the store to re-band)"
        )
    new_sigs = sigs_of(new_batch.select(F.col(id_col), F.col(text_col)))
    if store_buckets is None:
        stored_sigs = signature_store_read(spark, store, num_hashes, shingle_words, id_col)
        return _sig_bands(stored_sigs.unionByName(new_sigs), *geo)
    new_rows = _sig_bands(new_sigs, *geo)
    stored = spark.table(register_signature_bands_table(spark, store)).select(
        F.col("id").alias(id_col), "band_idx", "band_hash"
    )
    # one bounded driver read: <= batch size x bands longs (new_sigs is
    # memo-persisted, so the shingling this triggers is reused by the main
    # flow).  NULL hashes can't equi-join and are left unprobed.
    hashes = new_rows.select("band_hash").where(F.col("band_hash").isNotNull())
    probe = [r[0] for r in hashes.distinct().collect()]
    if not probe:
        # an all-NULL/empty batch proposes nothing; skip the store read
        stored = stored.where(F.lit(False))
    elif len(probe) <= _BAND_PROBE_PUSHDOWN_MAX:
        # literal IN via ONE parsed SQL string, never isin
        in_list = ",".join(str(int(h)) for h in probe)
        stored = stored.where(F.expr(f"band_hash IN ({in_list})"))
    return stored.unionByName(new_rows)


def _admit_local(
    new_batch: DataFrame, new_ids: DataFrame, tagged: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Small-set admission tier: the verified pair list is contractually
    a small fraction of the batch, and the admission algebra over it is
    pure set logic, so the tagged PAIRS (never documents) are collected
    and _admission_rejects_local runs it driver-side, saving the
    distributed tier's ~4 deep-plan jobs over a few hundred rows.  Returns
    (admitted ids, persisted; admitted rows).  NULL ids are never
    admitted, as on the distributed tier and the warm memo replay."""
    rejects = _admission_rejects_local(tagged.collect())
    keep = F.col(id_col).isNotNull()
    if len(rejects) <= 1000:
        if rejects:
            # literal NOT IN: one scan+filter, no join, and the predicate
            # reaches the parquet reader (PushedFilters: Not(In(...)),
            # plan-asserted in tests/test_plans.py)
            keep = keep & ~F.col(id_col).isin(sorted(rejects))
        return new_ids.filter(keep).persist(), new_batch.filter(keep)
    rej = new_batch.sparkSession.createDataFrame(
        [(r,) for r in sorted(rejects)], new_ids.schema
    )
    return (
        new_ids.filter(keep).join(rej, id_col, "left_anti").persist(),
        new_batch.filter(keep).join(rej, id_col, "left_anti"),
    )


def _admit_distributed(
    new_batch: DataFrame, new_ids: DataFrame, tagged: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame]:
    """Distributed admission tier, the same rule as _admit_local: reject
    new docs with an old-side near-dup, cluster the survivors' new-new
    pairs and drop every non-min member.  Returns (admitted ids,
    persisted — one long per admitted doc; admitted rows)."""
    # the new side of each new-old pair
    new_side = F.when(F.col("_na") & ~F.col("_nb"), F.col("id_a")).when(
        F.col("_nb") & ~F.col("_na"), F.col("id_b")
    )
    old_dupped = (
        tagged.select(new_side.alias(id_col)).where(F.col(id_col).isNotNull()).distinct()
    )
    remaining = new_ids.join(old_dupped, id_col, "left_anti")
    nn_pairs = (
        tagged.filter(F.col("_na") & F.col("_nb"))
        .select("id_a", "id_b")
        .join(remaining.select(F.col(id_col).alias("id_a")), "id_a", "left_semi")
        .join(remaining.select(F.col(id_col).alias("id_b")), "id_b", "left_semi")
    )
    comp = connected_components(nn_pairs)
    dropped = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    admitted = remaining.join(dropped, id_col, "left_anti").persist()
    return admitted, new_batch.join(admitted, id_col, "left_semi")


def incremental_near_dup_filter(
    existing: DataFrame,
    new_batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_words: int = 3,
    threshold: float = 0.5,
    local_threshold: int = 100_000,
    max_bucket_size: int | None = None,
    signature_store: str | None = None,
    validate_store_ids: bool = False,
) -> DataFrame:
    """Incremental corpus admission — the production dedup flow: a new
    crawl batch arrives against an already-deduped corpus, and only new
    docs that are near-duplicates of NEITHER the existing corpus NOR an
    admitted batch-mate get in.  (One-shot corpus dedup re-scores the
    whole world per batch; this never proposes an existing-existing pair.)

    Admission rule (deterministic):
      1. reject a new doc with an exact-verified near-dup (n-gram Jaccard
         >= threshold) in ``existing``;
      2. cluster the survivors by their verified new-new pairs (connected
         components) and keep the min-id member of each cluster.

    Scale shape: MinHash banding proposes, exact Jaccard verifies — same
    two-tier plan as minhash_near_dup_pairs, with one asymmetry that makes
    it incremental: the band join's RIGHT side is only the new batch's
    band rows, so join output is (old u new) x new collisions — never the
    existing corpus against itself.  Shuffle carries (id, band_hash) longs
    only; signatures re-attach by id.

    Band-row tiers (_band_rows): ``signature_store=<path>``
    (signature_store_write) reads the EXISTING side's signatures, or with
    a bucketed store its band rows, from the store instead of re-shingling
    the corpus text, the operator's one corpus-linear term (SCALE.md).
    Verification still reads the candidate docs' TEXT from ``existing``.
    Contract: the store's ids EQUAL ``existing``'s under the SAME geometry
    (validated hard); ``validate_store_ids=True`` also checks the ids
    (_check_store_ids, off by default: the scan is corpus-id-sized and
    the admission flow keeps the contract by construction).  Admission
    tiers: at or below ``local_threshold`` verified pairs _admit_local
    runs the admission algebra driver-side, above it _admit_distributed.
    The admitted set is IDENTICAL across all tiers (pytest-pinned).  Ids
    must be unique ACROSS both inputs (they name graph nodes), and
    NULL-id rows are never admitted.

    Warm-path memo: the admitted ID SET for a given (existing plan, batch
    plan, params, store listing) is persisted and memoized like
    cached_minhash_signatures, so a repeat call is ONE semi join against
    the cached id set (4.1 s warm at sf0.1 before, ~0.2 s after); hits are
    sameSemantics-confirmed on both inputs.

    Returns the admitted subset of ``new_batch`` (same columns).
    """
    require_band_geometry(num_hashes, bands)
    spark = new_batch.sparkSession
    store_fp = None
    if signature_store is not None:
        # memo fingerprint of the store side: parquet appends add part
        # files and never rewrite existing ones, so the sorted (name, size)
        # listing (no footer reads, no job) changes iff the contents did —
        # a grown store must not be served a stale admitted-set memo.  Also
        # the earliest curated error for a mistyped store path.
        store_fp = fs_dir_fingerprint(spark, f"{signature_store}/sigs")
        if validate_store_ids:
            _check_store_ids(
                spark, existing, signature_store, id_col, num_hashes,
                shingle_words,
            )
    # every argument that changes the admitted set (the cap changes which
    # pairs get proposed) is in the key
    memo_key = (
        existing.semanticHash(), new_batch.semanticHash(), id_col, text_col,
        num_hashes, bands, shingle_words, threshold, max_bucket_size,
        signature_store, store_fp,
    )
    inputs = [existing, new_batch]
    cached = _ADMIT_MEMO.get(spark, memo_key, inputs)
    if cached is not None:
        return new_batch.join(cached, id_col, "left_semi")
    union_docs = existing.select(F.col(id_col), F.col(text_col)).unionByName(
        new_batch.select(F.col(id_col), F.col(text_col))
    )
    banded = _band_rows(
        spark, union_docs, new_batch, signature_store, id_col, text_col,
        num_hashes, bands, shingle_words,
    )
    new_ids = new_batch.select(F.col(id_col)).distinct()
    with reuse.capture_frame() as own_entries:
        if max_bucket_size is not None:
            # same skew cap as minhash_near_dup_pairs: capped docs are NOT
            # proposed, so pathological boilerplate belongs upstream in
            # exact_dedup.  share=True: the capped table feeds banded_new
            # and both join sides, so one ledgered cut computes it once.
            banded = _cap_band_buckets(banded, max_bucket_size, share=True)
        banded_new = banded.join(new_ids, id_col, "left_semi")
        # (old u new) x new collisions; normalize so pairs are undirected
        a = banded.select(F.col(id_col).alias("_ia"), "band_idx", "band_hash")
        b = banded_new.select(F.col(id_col).alias("_ib"), "band_idx", "band_hash")
        pair = F.least("_ia", "_ib").alias("id_a"), F.greatest("_ia", "_ib").alias("id_b")
        cand = (
            a.join(b, ["band_idx", "band_hash"])
            .filter(F.col("_ia") != F.col("_ib"))
            .select(*pair)
            .distinct()
        )
        verified = ngram_jaccard_pairs(
            union_docs, id_col, text_col, shingle_words, threshold,
            candidates=cand,
        ).select("id_a", "id_b")
    # verified feeds every later step: cut lineage once, eagerly (the
    # count that picks the tier reads the checkpointed blocks for free).
    verified = verified.localCheckpoint(eager=True)
    # The cut supersedes every checkpoint THIS call ledgered (the capped
    # band table, ngram_jaccard_pairs' candidates): release them now rather
    # than pin dead sets per batch in a long-lived session.  The capture
    # frame holds only this thread's entries.
    reuse.release_captured(own_entries)

    def is_new(c: str, flag: str) -> DataFrame:
        return new_ids.select(F.col(id_col).alias(c), F.lit(True).alias(flag))

    tagged = (
        verified.join(is_new("id_a", "_na"), "id_a", "left")
        .join(is_new("id_b", "_nb"), "id_b", "left")
        .select("id_a", "id_b", *[F.coalesce(f, F.lit(False)).alias(f) for f in ("_na", "_nb")])
    )
    tier = _admit_local if verified.count() <= local_threshold else _admit_distributed
    admitted, result = tier(new_batch, new_ids, tagged, id_col)
    won = _ADMIT_MEMO.put(spark, memo_key, admitted, inputs)
    return result if won is admitted else new_batch.join(won, id_col, "left_semi")


def ngram_containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_words: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_shingle_df: int | None = None,
    allow_full_scan: bool = False,
) -> DataFrame:
    """Asymmetric CONTAINMENT near-dup detection: containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the quote/snippet/
    boilerplate-wrapper case Jaccard structurally misses (a 100-word doc
    fully quoted inside a 10k-word doc has Jaccard ~0.01 but containment
    1.0).  Emits one row per unordered pair with BOTH directions scored;
    callers filter on ``greatest(cont_a_in_b, cont_b_in_a)`` ≥ threshold
    (already applied).

    Same scale guard as ngram_jaccard_pairs (the shingle self-join is
    quadratic in per-shingle document frequency): pass ``candidates``
    (note: MinHash-Jaccard banding is the WRONG proposer here — a
    contained snippet's Jaccard is tiny, so its bands never collide; use a
    rare-shingle candidate source; r17: this mode is EAGER at
    construction — a bounded driver probe of the candidate ids decides
    the literal-IN scan-pushdown tier, like ngram_jaccard_pairs'
    broadcast regime), ``max_shingle_df`` (the natural
    containment proposer: only shingles appearing in ≤ N docs join, so
    boilerplate shingles never fan out and containment is scored over the
    rare-shingle space — slightly lenient on docs contained only via
    boilerplate, consistent on both numerator and denominator), or the
    explicit test-scale full scan.

    Divisions are single IEEE double ops on exact integers — bit-identical
    cross-engine, safe on a hash path.
    """
    if candidates is None and max_shingle_df is None and not allow_full_scan:
        raise ValueError(
            "ngram_containment_pairs is all-pairs on the full corpus; pass "
            "candidates=<pairs df>, max_shingle_df=<n>, or "
            "allow_full_scan=True (test scale only)"
        )
    docs = ensure_parallelism(docs)
    if candidates is not None:
        # ledgered lazy cut, same rationale and retention contract as
        # ngram_jaccard_pairs (release_candidate_checkpoints drains it)
        candidates = reuse.lazy_checkpoint(candidates)
        # restrict BEFORE the explode (same rationale as ngram_jaccard_pairs:
        # a semi join doesn't push below Generate; ensure_parallelism stays
        # on the base scan so its .rdd probe can't execute the subplan)
        wanted = (
            candidates.select(F.col("id_a").alias(id_col))
            .union(candidates.select(F.col("id_b").alias(id_col)))
            .distinct()
        )
        # LITERAL-IN SCAN PUSHDOWN (r17, verdict #8 — inherited from
        # ngram_jaccard_pairs, same regime analysis): the candidate id
        # set is small by contract, so a bounded driver probe turns the
        # corpus restriction into one parsed literal IN that reaches the
        # parquet reader (PushedFilters: In(doc_id, …)) — at scale the
        # containment scorer reads candidate row groups instead of every
        # row's text bytes.  Identical rows kept: IN over the distinct
        # non-null candidate ids ≡ the left-semi join (NULLs match
        # neither).  Above the cap, or when the ids have no safe literal
        # rendering, the semi join below remains.  This makes the
        # candidates mode eager at construction time (bounded collect),
        # exactly like ngram_jaccard_pairs' broadcast regime.
        pred = None
        probe = (
            wanted.where(F.col(id_col).isNotNull())
            .limit(_VERIFY_ID_PUSHDOWN_MAX + 1)
            .collect()
        )
        if len(probe) <= _VERIFY_ID_PUSHDOWN_MAX:
            pred = _literal_id_in_predicate(docs, id_col, [r[0] for r in probe])
        if pred is not None:
            docs = docs.where(pred)
        else:
            docs = docs.join(wanted, id_col, "left_semi")
    expl = docs.select(
        F.col(id_col),
        F.explode(word_shingles(F.col(text_col), shingle_words)).alias("shingle"),
    )
    if max_shingle_df is not None:
        surviving = (
            expl.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        expl = expl.join(surviving, "shingle", "left_semi")
    sizes = expl.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_shingles"))
    a = expl.select(F.col(id_col).alias("id_a"), "shingle")
    b = expl.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    if candidates is not None:
        inter = inter.join(
            candidates.select("id_a", "id_b").distinct(), ["id_a", "id_b"], "left_semi"
        )
    sized = (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n_shingles").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_shingles").alias("nb")), "id_b")
    )
    cont_ab = F.col("n_inter").cast("double") / F.col("na").cast("double")
    cont_ba = F.col("n_inter").cast("double") / F.col("nb").cast("double")
    return (
        sized.select(
            "id_a", "id_b", "n_inter",
            cont_ab.alias("cont_a_in_b"),
            cont_ba.alias("cont_b_in_a"),
        )
        .filter(F.greatest("cont_a_in_b", "cont_b_in_a") >= F.lit(threshold))
    )
