"""Text-analysis operators for the documents table.

All pure Catalyst expressions (no Python UDFs): tokenization, term counts,
quality scoring, language-ID heuristics, fingerprinting.  At 100 TB these
stay inside whole-stage codegen; the only shuffle is the final groupBy where
one exists.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bulkfhirloader_spark import reuse
from bulkfhirloader_spark.functions.binding import let

TOKEN_PATTERN = r"\S+"

# Tiny embedded stopword lists for the language-ID heuristic.  A production
# system would broadcast a real lexicon table; the operator shape (explode →
# broadcast join → groupBy argmax) is identical.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "y", "que", "en", "los"],
    "fr": ["le", "la", "de", "et", "que", "les", "des"],
    "de": ["der", "die", "das", "und", "zu", "den", "von"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization via regexp extraction — identical semantics
    to DuckDB regexp_extract_all, so oracle-checkable.

    idx=0 (whole match) is mandatory: the pattern has no capture group and
    PySpark's default group index of 1 throws REGEX_GROUP_INDEX at runtime.
    """
    return F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)


def tokens_sql(text_sql: str) -> str:
    """SQL-text form of ``tokens`` for the one-``F.expr``-parse builders
    (r16, guide §4 driver-side work): ``text_sql`` is SQL expression text
    (e.g. a backtick-quoted column name).  The parsed tree is identical to
    the Column form (sameSemantics-pinned in tests)."""
    return f"regexp_extract_all({text_sql}, '\\\\S+', 0)"


def _sql_str_literal(s: str) -> str:
    """Single-quoted SQL string literal with backslash/quote escaping —
    the stoplists and language tags below are plain ASCII words, but the
    escaping keeps the helper safe for arbitrary future entries."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def term_counts(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus term frequencies: explode tokens → groupBy(term).
    Map-side partial aggregation makes this a single small shuffle even when
    the exploded row count is ~100× the document count."""
    return (
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("term_count"))
    )


def quality_exprs(text_col: str = "text") -> dict:
    """Per-document quality feature EXPRESSIONS, name -> Column — the
    projection behind quality_stats, exposed so composed policies
    (curation.select_for_training) can evaluate the features they need in
    the SAME corpus scan as their other per-row features instead of a
    scan-per-operator + join-per-operator shape (each of those joins is a
    full-corpus shuffle at scale).  Pure projection; an unused entry
    costs nothing (only selected expressions are evaluated).

    Every entry is built by ONE ``F.expr`` parse (r16, guide §4
    driver-side work): the per-Column form issued ~150 py4j round trips
    per invocation — paid once per *invocation* in query-many serving —
    for trees the SQL parser produces in one.

    The stopword membership test is a literal ``IN`` list (r16 batch 3):
    HOF lambdas run INTERPRETED (no whole-stage codegen, no subexpression
    elimination inside the lambda body), so the per-token work is the
    hot loop of the whole projection — ``IN`` compiles to an InSet hash
    probe, vs the old let-bound array + array_contains linear scan that
    also paid a per-row array construction.  Values are pinned identical
    to the archived pre-r16 Column form on adversarial inputs in
    tests/test_expr_parity.py (the trees now intentionally differ, so
    the pin is value parity, not sameSemantics)."""
    t = f"`{text_col}`"
    toks = tokens_sql(t)
    en_in = ", ".join(_sql_str_literal(w) for w in STOPWORDS["en"])
    n_stop = f"size(filter({toks}, t -> lower(t) IN ({en_in})))"
    # nullif guards: an empty/whitespace-only document must yield NULL ratios,
    # not kill the whole job under Spark 4's default ANSI DIVIDE_BY_ZERO.
    safe_tokens = f"CAST(nullif(size({toks}), 0) AS DOUBLE)"
    safe_chars = f"CAST(nullif(length({t}), 0) AS DOUBLE)"
    return {
        "n_tokens": F.expr(f"size({toks})"),
        "n_chars_computed": F.expr(f"length({t})"),
        "avg_token_len": F.expr(f"CAST(length({t}) AS DOUBLE) / {safe_tokens}"),
        "alpha_ratio": F.expr(
            f"CAST(length(regexp_replace({t}, '[^A-Za-z]', '')) AS DOUBLE)"
            f" / {safe_chars}"
        ),
        "punct_ratio": F.expr(
            f"CAST(length(regexp_replace({t}, '[^.,;:!?]', '')) AS DOUBLE)"
            f" / {safe_chars}"
        ),
        "stopword_ratio": F.expr(f"CAST({n_stop} AS DOUBLE) / {safe_tokens}"),
    }


def quality_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-document quality features: token count, char stats, punctuation
    and stopword ratios.  Narrow (no shuffle): one projection."""
    exprs = quality_exprs(text_col)
    return docs.select(
        F.col(id_col),
        *[c.alias(name) for name, c in exprs.items()],
    )


def language_pred_exprs(text_col: str = "text") -> dict:
    """Language-ID EXPRESSIONS, name -> Column ({lang_pred,
    stopword_hits}) — the projection behind language_id, exposed for the
    same one-scan composition reason as quality_exprs.

    Built by ONE ``F.expr`` parse per entry (r16, guide §4 driver-side
    work): the per-language Column loop issued ~100 py4j round trips per
    invocation.

    r16 batch 3 (guide §1.2 per-task work): this whole tree runs
    INTERPRETED — HOF lambdas are excluded from whole-stage codegen AND
    from Catalyst subexpression elimination — so the old shape paid the
    regexp tokenization once per language (the ``toks`` text was inlined
    into every language's filter) and evaluated the argmax struct TWICE
    (once for ``.hits``, once for ``.lang`` inside the CASE).  Now the
    token array is let-bound ONCE around the whole expression and the
    argmax struct once around the CASE (see functions/binding.py for why
    ``element_at(transform(array(x), v -> body), 1)`` is the SQL let),
    and the per-token stopword test is a literal ``IN`` (InSet hash
    probe) instead of a per-row-constructed array + array_contains scan.
    Measured on the sf0.1 corpus projection: warm 1.45 s → 0.50 s,
    bit-identical values.  Value-parity (not sameSemantics — the tree
    intentionally differs) is pinned against the archived pre-r16 Column
    form on adversarial inputs in tests/test_expr_parity.py."""
    toks = (
        f"transform({tokens_sql(f'`{text_col}`')}, t -> lower(t))"
    )
    scores = []
    for lang, words in STOPWORDS.items():
        in_list = ", ".join(_sql_str_literal(w) for w in words)
        hits = f"size(filter(toks, t -> t IN ({in_list})))"
        scores.append(
            f"struct({hits} AS hits, {_sql_str_literal(lang)} AS lang)"
        )
    best = "array_max(array(" + ", ".join(scores) + "))"
    # both entries bind toks once; lang_pred additionally binds the argmax
    # struct so hits/lang read ONE evaluation
    return {
        "lang_pred": F.expr(
            f"element_at(transform(array({toks}), toks -> "
            f"element_at(transform(array({best}), "
            f"b -> CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END), 1)), 1)"
        ),
        "stopword_hits": F.expr(
            f"element_at(transform(array({toks}), toks -> ({best}).hits), 1)"
        ),
    }


def fused_token_feature_expr(text_col: str = "text") -> Column:
    """ONE-tokenization fusion of ``quality_exprs``' n_tokens and
    ``language_pred_exprs``' lang_pred (r17, verdict #4 — the recipe
    validated in r16): both features need the token array, and projecting
    them as separate expressions evaluates ``regexp_extract_all`` TWICE
    per row — the costliest sub-expression of the flagship curation
    pass (HOF bodies run interpreted: no codegen, no common-subexpression
    elimination can merge them).  This builder binds the raw token array
    ONCE (the ``element_at(transform(array(x), v -> body), 1)`` SQL let,
    functions/binding.py) and emits ``struct<n_tokens int, lang_pred
    string>``; the lowered copy is let-bound once again inside for the
    per-language stopword filters.

    The caller must keep the TWO-projection shape (struct producer in one
    ``select``, field extraction in the next): CollapseProject does not
    re-inline a non-cheap producer referenced twice, and the
    element_at/transform let defeats SimplifyExtractValueOps — so the
    executed plan carries ONE ``regexp_extract_all`` (plan-pinned in
    tests/test_curation.py).  Values are pinned identical to the separate
    quality_exprs/language_pred_exprs entries on adversarial inputs in
    tests/test_expr_parity.py."""
    toks_raw = tokens_sql(f"`{text_col}`")
    scores = []
    for lang, words in STOPWORDS.items():
        in_list = ", ".join(_sql_str_literal(w) for w in words)
        hits = f"size(filter(ltoks, t -> t IN ({in_list})))"
        scores.append(
            f"struct({hits} AS hits, {_sql_str_literal(lang)} AS lang)"
        )
    best = "array_max(array(" + ", ".join(scores) + "))"
    lang_pred = (
        f"element_at(transform(array(transform(toks, t -> lower(t))), ltoks -> "
        f"element_at(transform(array({best}), "
        f"b -> CASE WHEN b.hits > 0 THEN b.lang ELSE 'und' END), 1)), 1)"
    )
    return F.expr(
        f"element_at(transform(array({toks_raw}), toks -> "
        f"struct(size(toks) AS n_tokens, {lang_pred} AS lang_pred)), 1)"
    )


def language_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """N-gram/stopword language-ID heuristic: score each language by
    stopword hits in the token stream; argmax wins, 'und' when no hits.
    Pure expressions — the per-language scores are independent array
    filters over one tokenization."""
    exprs = language_pred_exprs(text_col)
    declared = (
        F.col("lang") if "lang" in docs.columns else F.lit(None).cast("string")
    )
    return docs.select(
        F.col(id_col),
        declared.alias("lang_declared"),
        exprs["lang_pred"].alias("lang_pred"),
        exprs["stopword_hits"].alias("stopword_hits"),
    )


def normalize_text(text: Column) -> Column:
    """Whitespace-collapse + lowercase canonical form (shared by
    fingerprinting and normalized dedup)."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def rolling_hash_expr(s: Column) -> Column:
    """31-bit polynomial rolling hash over a string's characters — the
    repo's ENGINE-PORTABLE hash: it folds CHARACTER CODEPOINTS (not
    engine-specific token hashes like xxhash64), so DuckDB restates it
    exactly with list_reduce over unicode(c) and every column built on it
    stays value-hash oracle-checkable.  Arithmetic stays strictly inside
    int64 under ANSI mode (Spark 4's default): acc < 2^31-1, multiplier
    ~2^20, codepoint < 2^21 → acc*m + c < 2^52 before the mod.  Shared by
    ``fingerprint`` (whole-document identity) and ``winnow_fingerprints``
    (per-k-gram hashes)."""
    p = F.lit(2147483647)  # 2^31 - 1 (Mersenne prime)
    return F.aggregate(
        F.regexp_extract_all(s, F.lit("."), 0),
        F.lit(18652614).cast("long"),  # FNV-1a 32-bit basis mod p
        lambda acc, c: F.pmod(acc * F.lit(1000003) + F.ascii(c), p),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Document fingerprints: md5 of the normalized text (oracle-checkable)
    plus the 31-bit polynomial rolling hash (rolling_hash_expr) over the
    normalized character stream for cheap streaming-style identity.
    """
    norm = normalize_text(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fp_md5"),
        rolling_hash_expr(norm).alias("fp_rolling"),
    )


def ngram_array(toks: Column, n: int) -> Column:
    """Word n-grams as a space-joined string array; empty array (never a
    descending sequence — F.sequence(1, 0) would yield [1, 0]) when the
    document has fewer than ``n`` tokens.

    ``toks`` is let-bound before the per-position lambda: callers pass
    whole expressions (usually ``tokens(col)``), and an outer expression
    referenced inside a HOF lambda is re-evaluated per element — the
    inline form re-tokenized the document once per n-gram position (see
    functions/binding.py)."""
    if n == 1:
        return toks
    return let(
        toks,
        lambda t: F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(t, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 2
) -> DataFrame:
    """Within-document repetition signals (the Gopher-rules family: docs
    dominated by a few repeated n-grams are boilerplate/spam): per doc the
    n-gram count, distinct count, most-frequent-n-gram count, and the two
    derived ratios used as filter thresholds — duplicate-n-gram fraction
    (1 - distinct/total) and top-n-gram share (max count / total).

    Scale shape: ZERO SHUFFLE.  Per-doc n-gram frequencies do not need an
    explode + groupBy(doc, gram) (two shuffles whose row count is ~token
    count × corpus size): sorting the n-gram array puts equal grams in
    contiguous runs, so one F.aggregate fold over the sorted array tracks
    (previous, run length, max run, distinct count) — the whole operator
    is a projection that stays inside whole-stage codegen.  The DuckDB
    oracle restates the semantics relationally (unnest → GROUP BY) so the
    fold is independently cross-checked."""
    toks = tokens(F.col(text_col))
    grams = ngram_array(toks, n)
    sorted_grams = F.array_sort(grams)
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("maxrun"),
        F.lit(0).cast("long").alias("ndist"),
    )

    def step(acc, g):
        is_same = acc["prev"].isNotNull() & (acc["prev"] == g)
        run = F.when(is_same, acc["run"] + F.lit(1)).otherwise(F.lit(1)).cast("long")
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["maxrun"], run).alias("maxrun"),
            (acc["ndist"] + F.when(is_same, F.lit(0)).otherwise(F.lit(1)))
            .cast("long")
            .alias("ndist"),
        )

    st = F.aggregate(sorted_grams, init, step)
    n_ngrams = F.size(grams).cast("long")
    safe = F.nullif(n_ngrams, F.lit(0)).cast("double")
    return docs.select(
        F.col(id_col),
        n_ngrams.alias("n_ngrams"),
        st["ndist"].alias("n_distinct"),
        st["maxrun"].alias("top_ngram_count"),
        ((n_ngrams - st["ndist"]).cast("double") / safe).alias("dup_ngram_frac"),
        (st["maxrun"].cast("double") / safe).alias("top_ngram_share"),
    )


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token estimate: word-boundary/punctuation regex split, the
    standard cheap proxy for LLM token budgeting."""
    return F.size(
        F.regexp_extract_all(text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"), 0)
    )


# PII patterns kept to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB oracle): character classes, bounded repetition — no backrefs,
# no lookaround.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


def redact_pii(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII scrubbing for training corpora: mask email addresses and
    phone-shaped numbers, reporting per-document match counts alongside
    the redacted text.

    Pure chained regexp projections — zero shuffle at any scale; counts
    come from regexp_extract_all on the ORIGINAL text so they are
    independent of replacement order.
    """
    t = F.col(text_col)
    redacted = F.regexp_replace(
        F.regexp_replace(t, PII_EMAIL, "[EMAIL]"), PII_PHONE, "[PHONE]"
    )
    return docs.select(
        F.col(id_col),
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE), 0)).cast("long").alias("n_phones"),
        redacted.alias("redacted_text"),
    )


def vocab_pair_counts(
    docs: DataFrame, text_col: str = "text", top_k: int = 100
) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies, top-k — the counting
    step of one BPE merge round (and the raw material for collocation /
    PMI statistics): which pairs co-occur often enough to fuse into one
    vocabulary unit.

    Scale shape: explode per-doc pair arrays → groupBy(pair).  The partial
    (map-side) aggregation collapses each input partition to its distinct
    pairs before the exchange, so the shuffle carries (pair, count) rows —
    zipfian but tiny vs the corpus.  The top-k is orderBy + limit, which
    Spark plans as TakeOrderedAndProject: per-partition heaps + a k-row
    driver merge, never a global sort materialization.  Deterministic
    boundary: ties order by (count desc, pair asc) in engine and oracle.
    """
    toks = tokens(F.col(text_col))
    pairs = docs.select(F.explode(ngram_array(toks, 2)).alias("pair"))
    counts = pairs.groupBy("pair").agg(F.count(F.lit(1)).alias("pair_count"))
    return counts.orderBy(F.desc("pair_count"), "pair").limit(top_k)


def _adjacent_pairs(syms: Column) -> Column:
    """Adjacent symbol pairs of an array as ``array<struct<l,r>>`` — the
    per-doc counting projection of one BPE round.  Guarded for < 2
    symbols (F.sequence/slice misbehave on empty ranges): such docs
    contribute no pairs."""
    n = F.size(syms)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(syms, 1, n - 1),
            F.slice(syms, 2, n - 1),
            lambda a, b: F.struct(a.alias("l"), b.alias("r")),
        ),
    ).otherwise(F.array().cast("array<struct<l:string,r:string>>"))


def _apply_merge(syms: Column, left: str, right: str) -> Column:
    """Apply ONE BPE merge rule greedily LEFT-TO-RIGHT to a symbol array
    (the standard BPE application order: in "a a a" under merge (a,a)
    the first two fuse, the third survives): one aggregate fold whose
    accumulator is (rebuilt array, pending symbol) — a pending symbol is
    emitted fused when the next symbol completes the pair, else flushed
    plain.  Pure projection, O(len) per row, zero shuffle."""
    fused = f"{left} {right}"
    empty = F.array().cast("array<string>")
    null_s = F.lit(None).cast("string")

    def step(acc, t):
        return F.when(
            acc["prev"].isNotNull()
            & (acc["prev"] == F.lit(left))
            & (t == F.lit(right)),
            F.struct(
                F.concat(acc["out"], F.array(F.lit(fused))).alias("out"),
                null_s.alias("prev"),
            ),
        ).otherwise(
            F.struct(
                F.when(
                    acc["prev"].isNotNull(),
                    F.concat(acc["out"], F.array(acc["prev"])),
                )
                .otherwise(acc["out"])
                .alias("out"),
                t.alias("prev"),
            )
        )

    return F.aggregate(
        syms,
        F.struct(empty.alias("out"), null_s.alias("prev")),
        step,
        lambda acc: F.when(
            acc["prev"].isNotNull(), F.concat(acc["out"], F.array(acc["prev"]))
        ).otherwise(acc["out"]),
    )


def _apply_merges_arrow(sym: DataFrame, seq: list, extra_cols: list[str]) -> DataFrame:
    """Arrow tier of BPE merge application: ONE mapInPandas pass applies
    the whole merge sequence per document with a plain Python token loop
    — O(len × n_merges) WORK, where the fold tier's per-step accumulator
    copy makes long documents effectively quadratic (measured: ~13 µs
    per token at 100-token docs but ~2.2 ms per token at 5k-token docs —
    the same interpreted-HOF scale cliff the winnowing hash and the
    semantic assignment hit, resolved the same way: an Arrow boundary at
    the deployment tier, the fold kept as the oracle-restatable
    default).  Greedy left-to-right per merge, identical contract."""
    import pandas as pd

    # Extra columns keep their INPUT types (r16, advisor finding): the
    # earlier hardcoded `long` crashed the Arrow tier for any non-int64
    # id column while the fold tier preserved the type.
    schema = ", ".join(
        [
            f"{c} {sym.schema[c].dataType.simpleString()}"
            for c in extra_cols
        ]
        + ["syms array<string>"]
    )

    def run(batches):
        for pdf in batches:
            out = []
            for syms in pdf["syms"]:
                s = list(syms) if syms is not None else None
                if s is not None:
                    for x, y in seq:
                        fused = f"{x} {y}"
                        res, i, m = [], 0, len(s)
                        while i < m:
                            if i + 1 < m and s[i] == x and s[i + 1] == y:
                                res.append(fused)
                                i += 2
                            else:
                                res.append(s[i])
                                i += 1
                        s = res
                out.append(s)
            cols = {c: pdf[c] for c in extra_cols}
            cols["syms"] = out
            yield pd.DataFrame(cols)

    return sym.mapInPandas(run, schema)


def bpe_merge_rounds(
    docs: DataFrame,
    n_merges: int = 3,
    text_col: str = "text",
    checkpoint_rounds: bool = True,
    apply_tier: str = "fold",
) -> DataFrame:
    """Multi-round BPE vocabulary trainer (r15, r14 verdict #4):
    vocab_pair_counts computes ONE merge round's pair frequencies; a real
    tokenizer-training pipeline iterates — each round counts adjacent
    symbol pairs over the CURRENT corpus segmentation, fuses the most
    frequent pair into a new vocabulary unit (Sennrich et al. 2016's
    loop, here over whitespace tokens as the starting symbols), and
    re-segments before the next count.  Returns the learned merge table
    ``(merge_idx, left_sym, right_sym, pair_count)`` in learn order —
    the artifact a tokenizer ships.

    Determinism contract (restatable in SQL, the chained-k-means
    stance): per round the winning pair is ordered by (count DESC,
    left_sym ASC, right_sym ASC); merges apply greedily left-to-right
    ("a a a" under (a,a) → ["a a", "a"]); rounds with no remaining
    pairs end the loop early.

    Scale shape: each round is ONE corpus pass — the pair count is an
    explode → groupBy whose map-side partial aggregation collapses each
    partition to its distinct pairs (zipfian but tiny vs the corpus),
    the winner is a 1-row TakeOrderedAndProject, and the re-segmentation
    is a pure O(len) projection fold.  Driver state is BOUNDED: the
    merge table itself (n_merges tiny rows — one winner collected per
    round), never the corpus.  ``checkpoint_rounds=True`` (default)
    materializes each round's re-segmented corpus as an EAGER
    localCheckpoint and releases the previous round's blocks
    (kmeans_centroids_chained's plan-hygiene pattern — without it round
    i's lineage nests i re-segmentation folds and the optimizer
    re-analyzes a linearly deepening tree, re-running every prior fold
    in each round's count pass: O(k²) fold work); the checkpoint trades
    that for one corpus-sized executor materialization per round,
    released as soon as the next round lands.  False keeps the nested-
    lineage form (useful when executors cannot hold the corpus and
    k is small).

    ``apply_tier="arrow"`` (r15 review) runs each round's
    re-segmentation through _apply_merges_arrow instead of the
    expression fold — the LONG-DOCUMENT tier: the fold's per-step
    accumulator copy is effectively quadratic in document length
    (measured ~170× the per-token cost at 5k-token docs vs 100-token
    docs), while the Arrow pass is a linear Python token loop.  The
    counting stage stays JVM-side either way; merge tables pytest-pinned
    identical; ``fold`` stays the oracle-restatable default.

    Reference parity anchor: none — the reference (bulkfhirloader,
    main.go) has no tokenizer surface; this is the LLM-pipeline
    extension, published-algorithm cited."""
    from bulkfhirloader_spark.operators.dedup import ensure_parallelism

    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if apply_tier not in ("fold", "arrow"):
        raise ValueError(
            f"apply_tier must be 'fold' or 'arrow', got {apply_tier!r}"
        )
    spark = docs.sparkSession
    sym = ensure_parallelism(docs).select(
        tokens(F.col(text_col)).alias("syms")
    ).where(F.size("syms") >= 2)
    prev_ckpt = None
    merges: list[tuple[int, str, str, int]] = []
    schema = "merge_idx int, left_sym string, right_sym string, pair_count long"
    for m in range(n_merges):
        top = (
            sym.select(F.explode(_adjacent_pairs(F.col("syms"))).alias("p"))
            .groupBy(
                F.col("p.l").alias("left_sym"), F.col("p.r").alias("right_sym")
            )
            .agg(F.count(F.lit(1)).alias("pair_count"))
            .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
            .limit(1)
            .collect()
        )
        if not top:
            break
        left, right, cnt = (
            top[0]["left_sym"], top[0]["right_sym"], int(top[0]["pair_count"])
        )
        merges.append((m, left, right, cnt))
        if m == n_merges - 1:
            break
        if apply_tier == "arrow":
            sym = _apply_merges_arrow(sym, [(left, right)], [])
        else:
            sym = sym.select(
                _apply_merge(F.col("syms"), left, right).alias("syms")
            )
        if checkpoint_rounds:
            sym = sym.localCheckpoint()
            if prev_ckpt is not None:
                # the new segmentation is materialized — the previous
                # round's blocks are dead weight, free them now
                reuse.release(prev_ckpt)
            prev_ckpt = sym
    if prev_ckpt is not None:
        # the merge table is collected; the working corpus is internal
        # state, never returned — safe to free unconditionally
        reuse.release(prev_ckpt)
    return spark.createDataFrame(merges, schema)


def apply_bpe_merges(
    docs: DataFrame,
    merges,
    text_col: str = "text",
    id_col: str = "doc_id",
    checkpoint_every: int = 16,
    apply_tier: str = "fold",
) -> DataFrame:
    """Segment a corpus under a LEARNED merge table (r15 — the
    consumption half of bpe_merge_rounds: train once, tokenize many):
    whitespace-tokenize each document, then apply every merge in
    ``merge_idx`` order, each greedily left-to-right (the exact
    application rule the trainer's own rounds use, so segmenting the
    TRAINING corpus reproduces the trainer's final state bit-for-bit —
    that identity is what the registry oracle certifies).  Returns
    ``(id_col, syms: array<string>)``; documents with < 2 tokens pass
    through as their raw token list (nothing to merge).

    ``merges`` is the trainer's output DataFrame (or a [(left, right)]
    list), collected to the driver — tiny by contract (one row per
    learned merge, the artifact a tokenizer ships).  Each merge is one
    projection fold (linear STEPS; the per-step accumulator copy makes
    the fold effectively quadratic in document LENGTH — fine at
    ordinary doc sizes, see apply_tier below), n_merges folds stacking
    in ONE corpus scan; past ``checkpoint_every`` merges the stack is
    cut with an eager localCheckpoint (expression-tree depth and
    analysis cost grow linearly with the stack — the bpe_merge_rounds
    plan-hygiene trade), intermediate cuts released in-loop and the
    LAST cut ledgered for reuse.release_candidate_checkpoints (the
    result plan reads from it).

    ``apply_tier="arrow"`` (r15 review): the WHOLE learned sequence
    applies in ONE mapInPandas pass — a linear Python token loop per
    document, n_merges × len work total, no fold stack and no
    checkpoints at all.  This is the deployment tier for long documents
    and large merge tables (a real tokenizer's k is thousands, where k
    stacked interpreted folds are also a py4j construction cost — the
    80k-literal-tree lesson); ``fold`` stays the oracle-restatable
    default, segmentations pytest-pinned identical."""
    from bulkfhirloader_spark.operators.dedup import ensure_parallelism

    if hasattr(merges, "collect"):
        seq = [
            (r["left_sym"], r["right_sym"])
            for r in sorted(merges.collect(), key=lambda r: r["merge_idx"])
        ]
    else:
        seq = [(left, right) for left, right in merges]
    if apply_tier not in ("fold", "arrow"):
        raise ValueError(
            f"apply_tier must be 'fold' or 'arrow', got {apply_tier!r}"
        )
    out = ensure_parallelism(docs).select(
        F.col(id_col), tokens(F.col(text_col)).alias("syms")
    )
    if apply_tier == "arrow":
        return _apply_merges_arrow(out, seq, [id_col])
    prev_ckpt = None
    for i, (left, right) in enumerate(seq):
        out = out.select(
            F.col(id_col), _apply_merge(F.col("syms"), left, right).alias("syms")
        )
        if checkpoint_every and (i + 1) % checkpoint_every == 0 and i + 1 < len(seq):
            out = out.localCheckpoint()
            if prev_ckpt is not None:
                reuse.release(prev_ckpt)
            prev_ckpt = out
    if prev_ckpt is not None:
        # the returned plan reads from the final cut — retained until the
        # session drains it (reuse.release_candidate_checkpoints)
        reuse.ledger_append(prev_ckpt)
    return out


def inverted_index(
    docs: DataFrame,
    min_df: int = 1,
    max_postings: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Build a term → posting-list index: one row per distinct term with its
    TRUE document frequency and the first ``max_postings`` doc ids (sorted)
    serialized as a CSV string — the retrieval-side structure a dedup or
    contamination audit drills into ("which documents contain this
    benchmark phrase?").

    Scale shape: per-doc term dedup happens MAP-SIDE via ``array_distinct``
    (no global distinct shuffle — (term, doc) is already unique once deduped
    within each doc), then ONE exchange on term feeds both the posting
    ranking and the aggregate: ``row_number`` per term ranks doc ids, the
    groupBy reuses the window's partitioning (no second exchange), df is
    ``max(rn)`` (true frequency, not capped), and only ranks <=
    ``max_postings`` enter the collected list — the stop-term posting list
    is BOUNDED, never materialized whole, which is what keeps zipfian heads
    from blowing executor memory at 100 TB.  Postings are CSV so results
    stay driver-hashable (array columns are not).
    """
    if min_df < 1 or max_postings < 1:
        raise ValueError("min_df and max_postings must be >= 1")
    from pyspark.sql import Window

    tok = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.array_distinct(tokens(F.col(text_col)))).alias("term"),
    )
    rn = F.row_number().over(Window.partitionBy("term").orderBy("_doc"))
    ranked = tok.withColumn("_rn", rn)
    idx = ranked.groupBy("term").agg(
        F.max("_rn").alias("df"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_rn") <= max_postings, F.col("_doc"))
                    )
                ),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return idx.where(F.col("df") >= min_df) if min_df > 1 else idx


def collocation_lift(
    docs: DataFrame,
    text_col: str = "text",
    min_pair_count: int = 10,
) -> DataFrame:
    """Bigram collocation mining: for every adjacent lowercase token pair
    occurring at least ``min_pair_count`` times, emit its corpus counts and
    an integer-ppm lift score (the PMI ratio without the log:
    P(ab) / (P(a)·P(b)), scaled to parts-per-million and floored).

    Lift is emitted as a floored integer ppm rather than a float PMI so the
    value hashes identically across engines: one double multiply + one
    divide + one multiply + floor, in a fixed order, is bit-reproducible
    IEEE-754, whereas log() implementations differ in the last ulp.

    Shape: two explode→count aggregations over the token stream (bigrams
    and unigrams) and one join of bigram rows against the unigram counts of
    each side.  The unigram table after filtering to terms that appear in a
    surviving bigram is small; at corpus scale the join keys are words —
    Zipf-skewed, but the bigram side is already aggregated (one row per
    distinct bigram), so per-key fan-out is bounded by vocabulary, not
    corpus size.
    """
    toks = F.transform(tokens(F.col(text_col)), lambda t: F.lower(t))
    tok_df = docs.select(toks.alias("t"))
    uni = (
        tok_df.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    bi = (
        tok_df.select(F.explode(ngram_array(F.col("t"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_count)
        .withColumn("w1", F.split(F.col("bigram"), " ").getItem(0))
        .withColumn("w2", F.split(F.col("bigram"), " ").getItem(1))
    )
    n_tokens = tok_df.select(
        F.sum(F.size("t")).cast("double").alias("_n_uni")
    )
    joined = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .crossJoin(F.broadcast(n_tokens))
    )
    # lift = (n_ab * N) / (n_a * n_b), in ppm.  Evaluation order is pinned:
    # (double(n_ab) * N) / (double(n_a) * double(n_b)) * 1e6, then floor.
    lift_ppm = F.floor(
        (F.col("n_ab").cast("double") * F.col("_n_uni"))
        / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        * F.lit(1_000_000.0)
    ).cast("long")
    return joined.select(
        "bigram",
        "n_ab",
        "n_a",
        "n_b",
        lift_ppm.alias("lift_ppm"),
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    idf: str = "ln",
) -> DataFrame:
    """BM25 keyword retrieval: score every document against a bag of query
    terms and return the top ``k`` — the lexical-retrieval baseline every
    RAG / contamination-audit stack needs next to the embedding ANN tier.

    score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) / (tf(t,d) + k1·(1−b+b·|d|/avgdl))

    ``idf='ln'`` (default) is the standard Robertson–Sparck Jones form
    ln(1 + (N−df+0.5)/(df+0.5)).  ``idf='rational'`` drops the log and uses
    the raw odds (N−df+0.5)/(df+0.5): per-term document ordering is
    IDENTICAL (log is monotone), only the cross-term mixing weights change.
    The registry query pins ``rational`` because ln is a libm call whose
    last-ulp behavior differs across engines — every arithmetic op in the
    rational form is a single IEEE double op, bit-identical in DuckDB, so
    the score itself is hash-checkable (same policy as collocation_lift).

    Scale shape: the query is a tiny literal array, so the matched postings
    are filtered BEFORE any shuffle (term isin(query) on the exploded
    stream — at 100 TB this is the inverted-index lookup; here the scan +
    filter plays that role).  Per-doc tf for matched terms is a map-side
    partial agg; df per term is a second tiny agg over matched (term, doc)
    pairs; N and avgdl are one broadcast row.  Final top-k is
    TakeOrderedAndProject (never a global sort).  Ties break by doc id so
    the row set is deterministic.
    """
    if idf not in ("ln", "rational"):
        raise ValueError("idf must be 'ln' or 'rational'")
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    toks = docs.select(
        F.col(id_col), tokens(F.col(text_col)).alias("_toks")
    ).select(
        F.col(id_col),
        F.size("_toks").alias("_dl"),
        F.explode("_toks").alias("term"),
    )
    # Global corpus stats: one broadcastable row.  avgdl is sum(len)/N, NOT
    # F.avg — the long sum is exact, so the single division is the only
    # float op and the value is bit-identical cross-engine (a parallel
    # double-avg's partial-sum order is not).
    stats = docs.select(
        F.count(F.lit(1)).alias("_n_docs"),
        (
            F.sum(F.size(tokens(F.col(text_col))).cast("long")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("_avgdl"),
    )
    matched = toks.filter(F.col("term").isin(*query_terms))
    tf = matched.groupBy(F.col(id_col), "term").agg(
        F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    scored = tf.join(F.broadcast(df_t), "term").crossJoin(F.broadcast(stats))
    odds = (F.col("_n_docs") - F.col("_df") + F.lit(0.5)) / (
        F.col("_df") + F.lit(0.5)
    )
    idf_term = F.log(F.lit(1.0) + odds) if idf == "ln" else odds
    tf_d = F.col("_tf").cast("double")
    norm = F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * F.col("_dl").cast("double") / F.col("_avgdl")
    )
    contrib = idf_term * (tf_d * F.lit(k1 + 1.0)) / (tf_d + norm)
    # Per-term contributions land in FIXED columns and are added in a
    # pinned left-assoc chain — a groupBy sum over the term rows would add
    # doubles in partition order, which is not reproducible cross-engine.
    per_term = scored.groupBy(id_col).agg(
        *[
            F.max(F.when(F.col("term") == t, contrib)).alias(f"_c{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    score = F.coalesce(F.col("_c0"), F.lit(0.0))
    for i in range(1, len(query_terms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    return (
        per_term.select(F.col(id_col), F.round(score, 6).alias("bm25"))
        .orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        .limit(k)
    )


def repeated_block_dedup(
    docs: DataFrame,
    block_tokens: int = 8,
    max_block_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
    broadcast_hot: bool = True,
) -> DataFrame:
    """Corpus-level repeated-span removal — the "dedupe repeated lines
    across the corpus" pass of a crawl-cleaning pipeline (boilerplate
    headers, license blocks, navigation chrome), applied to NON-OVERLAPPING
    ``block_tokens``-token blocks because this corpus has no newline
    structure to split on (documented choice; with real text, swap the
    blocker for split('\\n')).

    A block is dropped from every document when its exact token content
    appears in more than ``max_block_df`` documents (df counts each doc
    once, however often the block repeats inside it); survivors are
    reassembled in original order.  Docs whose every block is boilerplate
    come back with empty text rather than disappearing — dropping rows is
    the quality gate's decision, not the cleaner's.

    Scale shape: blocks explode map-side (posexplode of list_slice, same
    zero-shuffle shape as curation.chunk_documents), block df is ONE
    hash-keyed count agg (partial agg absorbs the zipfian head: the
    per-partition combine emits each (block, doc) once), and reassembly
    is one groupBy(doc) with an order-restoring array_sort — never a
    window.  The hot-block set is broadcast BY DEFAULT — right for a
    corpus whose boilerplate comes from a bounded set of sources — but
    its cardinality grows with the number of DISTINCT repeated blocks
    (every site's nav chrome is its own hot block), not with df: at
    crawl scale millions of hot strings would strain the broadcast, so
    pass ``broadcast_hot=False`` there and let the anti join shuffle
    (AQE re-promotes it to broadcast when the measured size allows) —
    the same escape hatch as ngram_jaccard_pairs' broadcast_candidates.
    """
    toks = docs.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("_toks"),
    )
    n_blocks = F.ceil(F.size("_toks") / F.lit(block_tokens)).cast("int")
    # the size guard runs BEFORE sequence(): sequence(0, -1) would count
    # DOWN (step defaults to sign(stop-start)) and fabricate blocks
    blocks = toks.filter(F.size("_toks") > 0).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_blocks - 1),
                lambda i: F.concat_ws(
                    " ", F.slice("_toks", i * block_tokens + 1, block_tokens)
                ),
            )
        ).alias("block_idx", "block"),
    )
    hot = (
        blocks.select(id_col, "block")
        .distinct()
        .groupBy("block")
        .agg(F.count(F.lit(1)).alias("_bdf"))
        .filter(F.col("_bdf") > max_block_df)
        .select("block")
    )
    if broadcast_hot:
        hot = F.broadcast(hot)
    kept = blocks.join(hot, "block", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("block_idx", "block"))
                ),
                lambda s: s["block"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_kept_blocks"),
    )
    # all-boilerplate (or empty) docs surface with empty text, not dropped
    return docs.select(F.col(id_col)).join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_kept_blocks", F.lit(0).cast("long")).alias("n_kept_blocks"),
    )


def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document vocabulary coverage against the corpus's own top-N
    terms: token count, out-of-vocabulary token count, and OOV rate — the
    tokenizer-fit / domain-shift triage metric (a doc whose tokens mostly
    miss the working vocabulary is foreign text, markup soup, or a
    tokenizer bug, and will fragment into long byte-level sequences).

    Scale shape: the vocabulary is ONE term-count aggregate cut to the
    top-N via ``orderBy(...).limit(N)`` — Spark plans that as
    TakeOrderedAndProject (per-partition top-N heaps + a driver-side merge
    of N·n_partitions rows), NOT a single-partition sort, so it stays
    bounded even though a web-scale corpus's distinct-term table is
    zipfian-unbounded (typos/numbers/URLs).  The count-desc + term-asc
    ordering matches the old row_number rank tiebreak exactly, so the cut
    is deterministic and identical.  The vocabulary is the BROADCAST side
    of the probe by construction (N ≪ corpus); per-doc counting is a
    map-side explode → broadcast left-anti probe → doc-keyed count, so
    document text never shuffles.  The OOV rate is a single IEEE division
    of exact counts (NULL for token-free docs, never a divide-by-zero
    throw under ANSI)."""
    tc = term_counts(docs, text_col=text_col)
    vocab = (
        tc.orderBy(F.desc("term_count"), F.col("term").asc())
        .limit(vocab_size)
        .select("term")
    )
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    oov = (
        toks.join(F.broadcast(vocab), "term", "left_anti")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    base = docs.select(
        F.col(id_col), F.size(tokens(F.col(text_col))).cast("long").alias("n_tokens")
    )
    return base.join(oov, id_col, "left").select(
        id_col,
        "n_tokens",
        F.coalesce("n_oov", F.lit(0).cast("long")).alias("n_oov"),
        F.round(
            F.coalesce("n_oov", F.lit(0).cast("long")).cast("double")
            / F.nullif(F.col("n_tokens").cast("double"), F.lit(0.0)),
            6,
        ).alias("oov_rate"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    with_positions: bool = True,
    hash_tier: str = "fold",
) -> DataFrame:
    """MOSS-style winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    2003 — the public algorithm behind code-plagiarism detection and
    exact-substring corpus dedup): hash every word ``k``-gram, slide a
    ``window`` of consecutive hashes over each document, and keep each
    window's MINIMUM hash (rightmost position on ties — the paper's
    rule, which maximizes fingerprint sharing between overlapping
    documents).  Returns distinct ``(id_col, fp_hash, pos)`` rows, pos =
    1-based k-gram position of the selected hash.

    GUARANTEE (the reason to winnow instead of sampling): any shared
    token run of length >= window + k - 1 between two documents shares
    at least one selected fingerprint — detection is deterministic, not
    probabilistic like MinHash — while storage is ~1/window of the full
    k-gram posting set.  Documents with fewer than ``window`` k-grams
    degrade to their single global minimum (the short-doc clamp);
    documents with fewer than ``k`` tokens yield no fingerprints
    (ngram_array's contract).

    Scale shape: one projection computes grams + the per-gram hash, then
    ONE per-document Exchange+Sort serves the sliding-window min, the
    row_number, and the per-doc count together (shared window spec).
    Output is ~n_grams/window rows per doc; nothing quadratic, no
    Python.

    ``hash_tier`` picks the per-gram hash (r14, r13 verdict #1 — the
    fold was the repo's last measured interpreted hot loop, 49.8 s of a
    500k-doc winnow sweep):

    - ``"fold"`` (default): the ENGINE-PORTABLE 31-bit polynomial
      character fold (rolling_hash_expr) — DuckDB restates it exactly,
      so this tier is value-hash oracle-checkable; it is also an
      interpreted HOF (O(text × k) lambda evaluations), the oracle
      tier, not the deployment one.
    - ``"xxhash64"``: Spark's built-in 64-bit hash over the gram string
      — whole-stage codegen, zero interpreted nodes (measured ~5×
      faster at 500k docs, SCALE.md r14).  Fingerprint VALUES are
      engine-specific, so this tier is certified by CANDIDATE-PAIR
      parity with the fold tier (identical pair sets on planted
      overlaps, pytest-pinned), the exact fold/blas split the k-means
      family uses.  The winnowing guarantee is hash-agnostic: any
      shared run >= window + k - 1 shares a selected fingerprint under
      EITHER hash (the selected positions differ; the detection does
      not).  Tie rule parity note: xxhash64 is signed 64-bit, and
      min-with-rightmost-tie needs only a total order, which signed
      comparison provides.

    ``with_positions=False`` drops the pos column and dedupes on
    (id, fp_hash) directly — for consumers that only need the
    fingerprint SET (the candidate join), saving the second distinct's
    Exchange of the fingerprint stream.
    """
    from pyspark.sql.window import Window as W

    if hash_tier not in ("fold", "xxhash64"):
        raise ValueError(
            f"hash_tier must be 'fold' or 'xxhash64', got {hash_tier!r}"
        )
    gram_hash = (
        rolling_hash_expr if hash_tier == "fold" else (lambda c: F.xxhash64(c))
    )
    grams = docs.select(
        F.col(id_col),
        F.posexplode(ngram_array(tokens(F.col(text_col)), k)).alias(
            "_p0", "_gram"
        ),
    )
    pos = grams.select(
        F.col(id_col),
        (F.col("_p0") + 1).cast("int").alias("pos"),
        gram_hash(F.col("_gram")).alias("_h"),
    )
    frame = (
        W.partitionBy(id_col).orderBy("pos").rowsBetween(W.currentRow, window - 1)
    )
    ordered = W.partitionBy(id_col).orderBy("pos")
    whole = W.partitionBy(id_col)
    sel = pos.select(
        F.col(id_col),
        # min(struct(h, -pos)): smallest hash, then LARGEST position —
        # the paper's rightmost-min tie rule
        F.min(F.struct(F.col("_h").alias("h"), (-F.col("pos")).alias("np")))
        .over(frame)
        .alias("_m"),
        F.row_number().over(ordered).alias("_rn"),
        F.count(F.lit(1)).over(whole).alias("_n"),
    )
    # full windows only (start <= n - window + 1); short docs clamp the
    # effective window to n so their one truncated window still selects
    full = sel.where(
        F.col("_rn") <= F.col("_n") - F.least(F.lit(window), F.col("_n")) + 1
    )
    if not with_positions:
        return full.select(F.col(id_col), F.col("_m.h").alias("fp_hash")).distinct()
    return full.select(
        F.col(id_col),
        F.col("_m.h").alias("fp_hash"),
        (-F.col("_m.np")).cast("int").alias("pos"),
    ).distinct()


def winnow_fp_array(
    text_col: Column,
    k: int = 3,
    window: int = 4,
    hash_tier: str = "fold",
) -> Column:
    """Per-ROW winnowing fingerprint SET as one ``array<long>``
    EXPRESSION — the streaming-legal form of ``winnow_fingerprints``
    (r14): the batch operator selects window minima with a per-document
    window FUNCTION, which a streaming side cannot plan; this builds the
    identical selection as a pure projection (gram build → per-gram hash
    → per-start ``array_min`` over the hash slice with the rightmost-min
    tie rule → distinct), so a gate's stream side stays stateless.
    Same short-doc clamp (fewer than ``window`` grams → the single
    global minimum), same sub-k-token contract (empty array).
    Fingerprint sets are pytest-pinned EQUAL to the batch operator's
    under both hash tiers.

    Cost note: the per-start slice min is O(n_grams × window)
    higher-order-function evaluations per row — the interpreted-HOF
    shape the batch operator's shared window spec avoids.  That is the
    right trade ONLY where a window function is unavailable (a
    micro-batch's worth of arriving docs); batch callers should use
    winnow_fingerprints.  The rightmost-tie struct is (h, -pos) under
    ``array_min`` — exactly the batch operator's ``min(struct(h, -pos))``
    ordering."""
    if hash_tier not in ("fold", "xxhash64"):
        raise ValueError(
            f"hash_tier must be 'fold' or 'xxhash64', got {hash_tier!r}"
        )
    gram_hash = (
        rolling_hash_expr if hash_tier == "fold" else (lambda c: F.xxhash64(c))
    )
    hashes = F.transform(
        ngram_array(tokens(text_col), k), lambda g: gram_hash(g)
    )

    def select_mins(h: Column) -> Column:
        n = F.size(h)
        w = F.least(F.lit(window), n)
        starts = F.sequence(F.lit(1), n - w + 1)
        mins = F.transform(
            starts,
            lambda i: F.array_min(
                F.transform(
                    F.sequence(i, i + w - 1),
                    lambda j: F.struct(
                        F.element_at(h, j).alias("h"), (-j).alias("np")
                    ),
                )
            )["h"],
        )
        return F.when(n >= 1, F.array_distinct(mins)).otherwise(
            F.array().cast("array<long>")
        )

    # let-bind the hash array: it is referenced across the per-start
    # lambda, and an unbound outer expression inside a HOF lambda is
    # re-evaluated per element (functions/binding.py)
    return let(hashes, select_mins)


def winnow_candidates(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_tier: str = "fold",
) -> DataFrame:
    """Candidate overlap pairs from winnowing fingerprints: documents
    sharing >= ``min_shared`` DISTINCT selected fingerprints, as
    ``(id_a, id_b, n_shared)`` with id_a < id_b — the propose stage of
    substring-level dedup (compose with exact verification downstream,
    the LSH-proposes/exact-verifies pattern every near-dup family here
    uses).

    ``max_fp_df`` drops fingerprints selected in more than that many
    documents BEFORE the self-join — the same boilerplate-shingle skew
    cap as the exact n-gram tier (dedup.ngram_jaccard_pairs): a
    corpus-wide header k-gram would otherwise propose O(n²) pairs on its
    own.  Dropped fingerprints only LOWER n_shared — the detection
    guarantee degrades exactly where text is corpus-boilerplate, which
    is the intended behavior of a dedup candidate stage.

    ``hash_tier`` selects the per-gram hash (see winnow_fingerprints —
    ``"xxhash64"`` is the codegen deployment tier, certified by
    candidate-pair parity with the default oracle ``"fold"``).

    Plan-census note: the self-join's two sides each print the full
    fingerprint lineage, so PLANS.md counts its Exchanges twice — at
    execution AQE collapses them (verified: 2 ReusedExchange in the
    post-exec plan), so the duplicated upstream runs ONCE."""
    fps = winnow_fingerprints(
        docs, k=k, window=window, id_col=id_col, text_col=text_col,
        with_positions=False, hash_tier=hash_tier,
    ).select(F.col(id_col).alias("_id"), "fp_hash")
    rare = (
        fps.groupBy("fp_hash")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_fp_df)
        .select("fp_hash")
    )
    pruned = fps.join(rare, "fp_hash")
    a = pruned.select(F.col("_id").alias("id_a"), "fp_hash")
    b = pruned.select(F.col("_id").alias("id_b"), "fp_hash")
    return (
        a.join(b, "fp_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def winnow_verified(
    docs: DataFrame,
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_fp_df: int = 10,
    min_run_tokens: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_tier: str = "fold",
    candidates: DataFrame | None = None,
) -> DataFrame:
    """EXACT shared-run verification over winnowing candidates (r14, r13
    verdict #2 — this completes the family: every other near-dup family
    composes propose → exact verify, winnowing stopped at candidates):
    for each candidate pair, join the two documents' ACTUAL k-grams (the
    strings, not their hashes — a 31-bit fold collision cannot survive
    this stage) positionally and measure the LONGEST SHARED TOKEN RUN
    via the classic diagonal gaps-and-islands: a match at (pos_a, pos_b)
    lies on diagonal pos_a - pos_b, and consecutive pos_a values on one
    diagonal are one contiguous shared k-gram run of length L covering
    L + k - 1 tokens.  Output: ``(id_a, id_b, n_matches, max_run_grams,
    max_run_tokens)`` for pairs with ``max_run_tokens >=
    min_run_tokens`` (default window + k - 1 — exactly the overlap
    length the winnowing guarantee detects deterministically, so
    propose-recall and verify-precision meet at the same boundary).

    Scale shape (the LSH-proposes/exact-verifies pattern,
    ngram_jaccard_pairs' candidate mode): the candidate set is
    lazily checkpointed once (it is referenced by the wanted-id set and
    the pair attach), grams are exploded ONLY for documents named in
    some pair (broadcast semi join — the corpus never shuffles), the
    positional match is a pair-and-gram equi join over candidate docs
    only, and the islands need ONE window (row_number per pair-diagonal)
    whose partitioning the run-length aggregation then reuses (subset
    keys).  ``candidates`` overrides the propose stage (pass a cheaper
    or stricter pair set); ``hash_tier`` feeds through to the in-call
    propose (the verify itself is hash-free, so both tiers verify
    identically — that is the point of verifying on strings)."""
    from pyspark.sql.window import Window as W

    if min_run_tokens is None:
        min_run_tokens = window + k - 1
    if candidates is None:
        candidates = winnow_candidates(
            docs, k=k, window=window, min_shared=min_shared,
            max_fp_df=max_fp_df, id_col=id_col, text_col=text_col,
            hash_tier=hash_tier,
        )
    # lazy lineage cut, LEDGERED (r15, r14 advice): the candidate set is
    # referenced by the wanted-ids explode AND the pair join below, and
    # the returned plan reads from these blocks — they are retained until
    # the session drains them via reuse.release_candidate_checkpoints
    # (auto-eviction would break a still-held previous result)
    cand = reuse.lazy_checkpoint(
        candidates.select("id_a", "id_b")
        .where(F.col("id_a") < F.col("id_b"))
        .distinct()
    )
    wanted = cand.select(
        F.explode(F.array(F.col("id_a"), F.col("id_b"))).alias(id_col)
    ).distinct()
    grams = (
        docs.join(F.broadcast(wanted), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.posexplode(ngram_array(tokens(F.col(text_col)), k)).alias(
                "_p0", "_gram"
            ),
        )
        .select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_gram")
    )
    # NOTE (r16, examined and deliberately left): `grams` is referenced
    # twice below (id_a/id_b sides), the same double-expansion shape that
    # ngram_jaccard_pairs' pairwise path fixes with a ledgered lazy
    # checkpoint — but HERE the attach table is NOT contractually small:
    # winnowing proposes broadly (measured sf0.1: 2913 of 5000 docs named
    # in some candidate pair, 186k exploded gram rows vs jaccard's 477
    # wanted docs), and materializing the per-token gram explode cost
    # MORE than the second scan in an interleaved A/B (warm means 5.1 s →
    # 7.1 s).  The recompute-over-materialize trade is kept on purpose.
    matches = (
        cand.join(
            grams.select(
                F.col(id_col).alias("id_a"), F.col("pos").alias("pos_a"), "_gram"
            ),
            "id_a",
        )
        .join(
            grams.select(
                F.col(id_col).alias("id_b"), F.col("pos").alias("pos_b"), "_gram"
            ),
            ["id_b", "_gram"],
        )
        .select("id_a", "id_b", "pos_a", "pos_b")
    )
    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = W.partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    islands = matches.select("id_a", "id_b", diag, "pos_a").select(
        "id_a", "id_b", "diag",
        (F.col("pos_a") - F.row_number().over(w)).alias("grp"),
    )
    runs = islands.groupBy("id_a", "id_b", "diag", "grp").agg(
        F.count(F.lit(1)).alias("run_len")
    )
    return (
        runs.groupBy("id_a", "id_b")
        .agg(
            F.sum("run_len").cast("long").alias("n_matches"),
            F.max("run_len").cast("long").alias("max_run_grams"),
        )
        .withColumn(
            "max_run_tokens", (F.col("max_run_grams") + F.lit(k - 1)).cast("long")
        )
        .where(F.col("max_run_tokens") >= min_run_tokens)
    )
