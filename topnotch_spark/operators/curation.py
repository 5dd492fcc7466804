"""Corpus-curation operators for LLM training-data pipelines: PII
redaction, rule-chain quality filtering, deterministic stratified
sampling (by rate and by exact count), token-budget shard packing, and
benchmark decontamination.

All are pure-JVM projections, window passes, or (for decontamination) a
broadcast equi-join — no Python UDFs, no collects — so they scale
linearly with corpus bytes. (The reference engine has none of these;
LLM-pipeline extension surface, same tier as operators/dedup.py.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist

# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# (name, regex, replacement) — applied IN ORDER; regexes restricted to the
# Java-regex ∩ RE2 common dialect (\b, \d, bounded repeats; no lookaround)
# so the DuckDB oracle (oracles.text_pii_scrub_sql) runs them verbatim.
DEFAULT_PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def pii_scrub(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    patterns: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Redact PII-shaped spans; replacements chained in pattern order,
    and each pattern's count taken on the text AS IT STANDS when that
    pattern runs (after earlier replacements) — so counts equal the
    redactions actually performed even when patterns overlap (an email
    like user@1.2.3.4.net is one <EMAIL>, not also an <IP>). One
    projection, zero shuffle."""
    pats = patterns if patterns is not None else DEFAULT_PII_PATTERNS
    cleaned = F.col(text_col)
    counts = []
    for name, regex, token in pats:
        counts.append(
            F.regexp_count(cleaned, F.lit(regex)).cast("long").alias(f"n_{name}")
        )
        cleaned = F.regexp_replace(cleaned, regex, token)
    return df.select(F.col(id_col), *counts, cleaned.alias("clean_text"))


# ---------------------------------------------------------------------------
# Quality filter chain
# ---------------------------------------------------------------------------

# (rule_name, DROP condition) over the quality_scores() metric columns.
# Conditions are ANSI-SQL strings evaluated by BOTH engines (F.expr here,
# verbatim text in the DuckDB oracle) — single source of truth, so the
# rule chain can never drift between engine and oracle.
DEFAULT_QUALITY_FILTER_RULES: list[tuple[str, str]] = [
    # NULL text yields NULL metrics, and NULL predicates record no
    # reason under three-valued logic — without this explicit rule a
    # NULL-text garbage doc would sail through the whole chain
    ("null_text", "n_tokens IS NULL"),
    ("too_short", "n_tokens < 10"),
    ("too_long", "n_tokens > 5000"),
    ("low_alpha", "alpha_ratio < 0.5"),
    ("no_stopwords", "stopword_ratio < 0.005"),
    ("repetitive", "distinct_ratio < 0.3"),
]


def quality_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    stopwords: list[str] | None = None,
    *,
    rules: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """Gopher-style rule chain: evaluate every drop-rule, keep docs that
    fail none, report the failed rule names. Metrics come from
    textqc.quality_scores (rounded, so boundary comparisons are
    bit-identical across engines); the rule pass is a second projection
    on the same scan — still zero shuffle."""
    from topnotch_spark.operators.textqc import quality_scores

    rls = rules if rules is not None else DEFAULT_QUALITY_FILTER_RULES
    metrics = quality_scores(df, id_col, text_col, stopwords)
    reasons = F.concat_ws(
        ",", *[F.when(F.expr(cond), F.lit(name)) for name, cond in rls]
    )
    return metrics.select(
        F.col(id_col),
        F.col("n_tokens"),
        reasons.alias("drop_reasons"),
        (reasons == "").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Deterministic stratified sampling
# ---------------------------------------------------------------------------

def _rate_threshold_hex(rate: float) -> str:
    """First-8-hex-chars threshold for a [0,1) keep rate."""
    return format(int(rate * 16**8), "08x")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strat_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-stratum Bernoulli sample, deterministic and engine-portable:
    keep row iff the first 8 hex chars of md5(stratum ':' id) fall below
    the stratum's rate threshold. No RNG, no seed plumbing — the same
    row set on every engine, every run, any partitioning (the classic
    hash-sample trick for reproducible corpus subsets). Zero shuffle.

    NULL strata always follow ``default_rate`` (even when ``''`` has its
    own entry in ``rates`` — NULL is not the empty string); their hash
    key coalesces to '', so NULL and ''-stratum rows draw the same
    pseudo-random sequence (coupled, documented). Without explicit NULL
    handling, ``== stratum`` / ``isin`` three-valued logic would
    silently drop every NULL-stratum row regardless of rate."""
    strat = F.col(strat_col)
    key = F.md5(
        F.concat_ws(
            ":", F.coalesce(strat, F.lit("")), F.col(id_col).cast("string")
        )
    ).substr(1, 8)
    cond = None
    for stratum, rate in sorted(rates.items()):
        this = (strat == stratum) & (
            F.lit(rate >= 1.0) | (key < F.lit(_rate_threshold_hex(min(rate, 1.0))))
        )
        cond = this if cond is None else cond | this
    others = (strat.isNull() | ~strat.isin(list(rates))) & (
        F.lit(default_rate >= 1.0)
        | (key < F.lit(_rate_threshold_hex(min(default_rate, 1.0))))
    )
    cond = others if cond is None else cond | others
    return df.filter(cond).select(F.col(id_col), F.col(strat_col))


# ---------------------------------------------------------------------------
# Text normalization
# ---------------------------------------------------------------------------

def normalize_text(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Canonical text cleanup ahead of dedup/tokenization: strip C0
    control chars + DEL to spaces, collapse whitespace runs, trim,
    lowercase. Emits (id, norm_text, n_chars_raw, n_chars_norm,
    changed) — ``changed`` flags docs the normalization touched, so the
    pass doubles as a dirty-input metric for assertions.

    One JVM projection (two compiled regex passes), zero shuffle; the
    regexes live in the Java-regex ∩ RE2 dialect so the DuckDB oracle
    runs them verbatim. Unicode NFC/confusable folding is deliberately
    out: it needs ICU (a Pandas-UDF extension point), and byte-level
    dedup upstream of it stays valid."""
    raw = F.col(text_col)
    cleaned = F.lower(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(raw, "[\\x00-\\x1f\\x7f]", " "), "\\s+", " "
            )
        )
    )
    return df.select(
        F.col(id_col),
        cleaned.alias("norm_text"),
        F.length(raw).alias("n_chars_raw"),
        F.length(cleaned).alias("n_chars_norm"),
        (cleaned != raw).alias("changed"),
    )


# ---------------------------------------------------------------------------
# Token-budget shard packing
# ---------------------------------------------------------------------------

def pack_token_shards(
    df: DataFrame,
    id_col: str,
    text_col: str,
    budget: int = 2000,
    partition_col: str | None = None,
    global_ordering: bool = False,
) -> DataFrame:
    """Assign docs to training shards by cumulative token budget:
    shard_id = exclusive-prefix-sum(n_tokens) // budget, ordered by id.

    The scale-safe path is ``partition_col`` (e.g. a date or hash-bucket
    column): packing runs per-partition in parallel and shard_id is
    unique per (partition, shard) — which is what training shard layouts
    want anyway (shards nested under date/source dirs). A global prefix
    sum is one single-partition ordered window by construction — fine up
    to ~10^8 docs (the window input is (id, n_tokens), two longs/doc),
    and required only when shard numbering must be globally contiguous —
    so it is an explicit opt-in: ``global_ordering=True``. Calling with
    neither raises rather than silently serializing a 100 TB corpus
    through one task."""
    from topnotch_spark.functions.text import tokens

    if partition_col is None and not global_ordering:
        raise ValueError(
            "pack_token_shards without partition_col builds a single-partition "
            "global window; pass partition_col=<col> for the parallel path or "
            "global_ordering=True to opt in to globally contiguous shard ids"
        )
    n = F.size(tokens(text_col)).cast("long")
    w = (
        Window.partitionBy(partition_col) if partition_col else Window.partitionBy()
    ).orderBy(id_col)
    cum_excl = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    base = df.select(
        F.col(id_col),
        *([F.col(partition_col)] if partition_col else []),
        n.alias("n_tokens"),
    )
    return base.select(
        "*", F.floor(cum_excl / budget).cast("long").alias("shard_id")
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (cross-corpus n-gram overlap)
# ---------------------------------------------------------------------------

def cross_corpus_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int = 5,
    min_common: int = 1,
    max_shingle_df: int | None = 10_000,
) -> DataFrame:
    """Decontamination screen: which corpus docs share word n-grams with
    a benchmark/eval set (the GPT-3/FineWeb-style leakage check, done as
    a JOIN, not pairwise scans).

    Returns (corpus_id, bench_id, n_common, overlap_frac) where
    overlap_frac = shared distinct shingles / the BENCHMARK doc's
    distinct shingles (the side you care about leaking).

    Execution shape: per-doc distinct shingles on both sides (one regex
    pass each, zero shuffle), equi-join on the shingle string with the
    BENCHMARK side broadcast — eval suites are tiny next to a training
    corpus, so the join is map-side and the corpus streams once. One
    groupBy on the (corpus, bench) pair. ``max_shingle_df`` drops
    corpus-side shingles above a document-frequency cap from the join
    (stopword-like n-grams at corpus scale) — bounded BY DEFAULT, like
    dedup.ngram_jaccard_pairs' valve, so one viral n-gram in a large
    bench suite cannot fan the equi-join out; pass ``None`` to disable.
    The benchmark side is never capped — a capped bench shingle would
    silently hide leakage. Note the cap also removes those shingles
    from ``n_common``/``overlap_frac`` for the few pairs that share
    them (documented trade: a >cap-frequency n-gram carries no leakage
    signal).

    The corpus-side shingle frame is registered in the dedup persist
    registry — with the valve on it feeds both the document-frequency
    cap and the leakage join (2 corpus scans without it); consume inside
    ``dedup_scope()`` or call ``unpersist_intermediates()`` to release
    the storage."""
    from topnotch_spark.operators.dedup import (
        shingle_arrays,
        spread_cpu,
    )

    # corpus side is the full-corpus shingle entry: spread the fused
    # scan→shingle map stage onto the cores (guide §2/§6); the bench
    # side stays unspread (a filtered slice, broadcast anyway)
    corpus = spread_cpu(corpus, id_col)
    c = persist(
        shingle_arrays(corpus, id_col, text_col, shingle_n).select(
            F.col("id").alias("corpus_id"), F.explode("shs").alias("sh")
        )
    )
    if max_shingle_df is not None:
        df_caps = (
            c.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("sh")
        )
        c = c.join(df_caps, "sh")
    b_arr = shingle_arrays(benchmark, id_col, text_col, shingle_n).select(
        F.col("id").alias("bench_id"),
        F.col("shs").alias("bshs"),
        F.size("shs").alias("bench_size"),
    )
    b = b_arr.select(
        "bench_id", "bench_size", F.explode("bshs").alias("sh")
    )
    pairs = (
        c.join(F.broadcast(b), "sh")
        .groupBy("corpus_id", "bench_id", "bench_size")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    return pairs.select(
        "corpus_id",
        "bench_id",
        "n_common",
        F.round(F.col("n_common") / F.col("bench_size"), 6).alias("overlap_frac"),
    )


def embedding_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """Semantic decontamination screen: corpus docs whose EMBEDDING is
    near-identical (cosine ≥ threshold) to a benchmark/eval item — the
    paraphrase-robust complement to [cross_corpus_overlap]'s n-gram
    check, which a light rewording defeats.

    Returns (corpus_id, bench_id, cos_sim).

    Execution shape: SRP-bucket blocking on BOTH sides (same deterministic
    hyperplanes as dedup.embedding_near_dups, so the blocking is
    engine-reproducible), benchmark side broadcast (eval suites are tiny
    next to a training corpus), cosine verified per candidate. The corpus
    streams once; per-row work is one bucket projection plus, for
    same-bucket candidates only, one dot-product fold. Recall bound is
    the SRP collision probability (1 − θ/π)^planes for same-bucket
    match — lower ``n_planes`` for higher recall at more candidates,
    exactly the dedup trade."""
    from topnotch_spark.functions.vectors import dot, norm, srp_bucket

    c = corpus.select(
        F.col(id_col).alias("corpus_id"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col).alias("__cn__"),
        srp_bucket(vec_col, n_planes, dim).alias("__bkt__"),
    )
    b = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.col(vec_col).alias("__bv__"),
        norm(vec_col).alias("__bn__"),
        srp_bucket(vec_col, n_planes, dim).alias("__bkt__"),
    )
    cos = F.round(
        dot("__cv__", "__bv__")
        / (F.col("__cn__") * F.col("__bn__")),
        round_digits,
    )
    return (
        c.join(F.broadcast(b), "__bkt__")
        .select("corpus_id", "bench_id", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def stratified_topn(
    df: DataFrame,
    id_col: str,
    strat_col: str,
    n: int,
) -> DataFrame:
    """Exactly-n-per-stratum selection ("1M docs per language"): rank
    rows inside each stratum by md5(stratum ':' id) — a deterministic
    pseudo-random order — and keep the first n. The fixed-COUNT
    complement to ``stratified_sample``'s fixed-RATE draw. One shuffle
    on the stratum (row_number window); engine-portable like the rate
    sampler (same md5 everywhere). NULL strata form their own partition
    with keys coalesced to '' — same convention as stratified_sample,
    and what the SQL twin computes."""
    key = F.md5(
        F.concat_ws(
            ":",
            F.coalesce(F.col(strat_col), F.lit("")),
            F.col(id_col).cast("string"),
        )
    )
    w = Window.partitionBy(strat_col).orderBy(key, F.col(id_col))
    return (
        df.select(F.col(id_col), F.col(strat_col))
        .withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") <= n)
        .drop("__rn__")
    )


# ---------------------------------------------------------------------------
# Per-group winsorization (percentile clipping)
# ---------------------------------------------------------------------------

def winsorize(
    df: DataFrame,
    value_col: str,
    group_cols: list[str] | None = None,
    lower_p: float = 0.05,
    upper_p: float = 0.95,
    exact: bool = True,
    round_digits: int = 4,
) -> DataFrame:
    """Clip a numeric column to its (per-group) [lower_p, upper_p]
    percentile band — the standard heavy-tail guard before loss
    weighting / feature scaling in a training pipeline.

    ``exact=True`` computes true percentiles (one sort-based aggregate
    per group; linear interpolation, the quantile_cont definition) —
    right for oracle-checked QC and for grouped data where each group
    fits a partition's sort. At 100 TB ungrouped, pass ``exact=False``
    for approx_percentile (t-digest sketch, one pass, mergeable — the
    scale default; bounds then carry sketch error, which clipping
    tolerates by construction).

    Output: input columns + lo / hi bounds + ``<value_col>_clipped``.
    Execution shape: one groupBy aggregate over the groups (tiny next
    to the input) joined back — AQE broadcasts it when small.
    """
    fn = "percentile" if exact else "approx_percentile"
    bounds_expr = [
        F.round(
            F.expr(f"{fn}({value_col}, {p})").cast("double"), round_digits
        ).alias(name)
        for name, p in (("lo", lower_p), ("hi", upper_p))
    ]
    v = F.col(value_col)
    clipped = F.round(
        F.least(F.greatest(v, F.col("lo")), F.col("hi")), round_digits
    )
    if group_cols:
        bounds = df.groupBy(*group_cols).agg(*bounds_expr)
        base = df.join(bounds, group_cols)
    else:
        base = df.crossJoin(F.broadcast(df.agg(*bounds_expr)))
    return base.select(
        *[F.col(c) for c in df.columns],
        "lo",
        "hi",
        clipped.alias(f"{value_col}_clipped"),
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------

def hash_split(
    df: DataFrame,
    id_col: str,
    fractions: dict[str, float],
    salt: str = "split",
) -> DataFrame:
    """Assign every row to a named split (train/val/test/...) by hashing
    its id — deterministic, engine-portable, seedless: the same row
    lands in the same split on every engine, every run, any
    partitioning, and membership survives corpus growth (a row's split
    never changes when other rows are added — the property random
    shuffles lack). Fractions must sum to <= 1; any remainder falls in
    the last split.

    Mechanism: first 8 hex chars of md5(salt ':' id) compared against
    cumulative fraction thresholds (fixed-width lowercase hex compares
    like the integer it encodes — same trick as stratified_sample).
    Zero shuffle, one projection.
    """
    if not fractions:
        raise ValueError("hash_split: fractions must be non-empty")
    names = list(fractions)
    key = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    ).substr(1, 8)
    expr = F.lit(names[-1])
    cum = 0.0
    # build the CASE chain from the last threshold down so evaluation
    # order matches the cumulative boundaries
    thresholds: list[tuple[str, str]] = []
    for name, frac in list(fractions.items())[:-1]:
        cum += frac
        thresholds.append((name, _rate_threshold_hex(min(cum, 1.0))))
    for name, thr in reversed(thresholds):
        expr = F.when(key < F.lit(thr), F.lit(name)).otherwise(expr)
    return df.select("*", expr.alias("split"))


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight: "F.Column | str",
    salt: str = "wsample",
) -> DataFrame:
    """Per-row Bernoulli sample with a PER-ROW keep probability —
    deterministic, engine-portable, seedless (the weighted generalization
    of stratified_sample's fixed-rate trick): keep a row iff the first
    8 hex chars of md5(salt ':' id), read as a 32-bit fraction, fall
    below ``clamp(weight, 0, 1)``. Same row set on every engine, every
    run, any partitioning; membership survives corpus growth. The
    standard quality-weighted corpus downsampler: weight 1 always keeps,
    0 always drops, 0.3 keeps ~30% of rows carrying that weight.

    ``weight`` is a column (or name) evaluated per row — e.g. a quality
    score, a per-source mix weight joined on, or any expression. NULL
    weights drop the row (NULL < x is never true) — document weights
    before sampling. Zero shuffle, one projection."""
    w = F.col(weight) if isinstance(weight, str) else weight
    frac = (
        F.conv(
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            ).substr(1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**8))
    )
    return df.filter(frac < F.least(F.greatest(w, F.lit(0.0)), F.lit(1.0)))


def weighted_sample_topn(
    df: DataFrame,
    id_col: str,
    weight: "F.Column | str",
    n: int,
    salt: str = "wres",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement to an exact count —
    Efraimidis–Spirakis A-Res, the exact-n complement of
    [weighted_sample]'s Bernoulli draw: each row gets the key
    u^(1/w) (selected via the monotone-equivalent ln(u)/w) with u a
    deterministic md5 fraction, and the n LARGEST keys win. Inclusion
    probability is proportional to weight; membership is seedless and
    engine-portable like every sampler here.

    Rows with NULL or non-positive weight never win. Ties (identical
    u and w) break on the id, so the selected set is total-ordered.

    Execution shape: one projection + a distributed top-n
    (orderBy+limit → TakeOrdered: per-partition heaps of n rows merged
    on the driver — never a global sort shuffle). n is a driver-side
    result bound, so keep it "result-sized" (10⁴–10⁶), not
    corpus-sized — the same contract as any LIMIT."""
    if n < 1:
        raise ValueError(f"weighted_sample_topn: n must be >= 1, got {n}")
    w = F.col(weight) if isinstance(weight, str) else weight
    u = (
        F.conv(
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            ).substr(1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(16**8))
    key = F.log(u) / w.cast("double")  # maximize u^(1/w) ⇔ maximize ln(u)/w
    return (
        df.filter(w.isNotNull() & (w.cast("double") > 0))
        .withColumn("__wkey__", key)
        .orderBy(F.col("__wkey__").desc(), F.col(id_col))
        .limit(n)
        .drop("__wkey__")
    )


# ---------------------------------------------------------------------------
# Cross-document line dedup (boilerplate removal)
# ---------------------------------------------------------------------------

def dedup_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = "\n",
    max_line_df: int = 1,
    min_chars: int = 1,
) -> DataFrame:
    """C4/CCNet-style cross-document line deduplication: split every
    document on ``sep``, drop each line whose corpus-wide DOCUMENT
    frequency exceeds ``max_line_df`` (the nav-bar/footer/cookie-banner
    boilerplate that repeats across pages), and reassemble the survivors
    in original order. Lines shorter than ``min_chars`` are exempt —
    never counted, never removed — so blank separator lines keep the
    document's structure. Returns (id, text, n_lines, n_removed); a
    document whose every line is boilerplate stays in the output with
    empty text (dropping rows silently is a filter's job, not a
    rewriter's). A NULL text is treated as empty — the row survives
    with '' (a bare ``posexplode(split(NULL))`` would silently drop it).

    Execution shape (100 TB): posexplode (narrow) into a PERSISTED line
    frame (it feeds the document-frequency pass, the anti join, and the
    per-doc line counts — 3 corpus scans without it; consume inside
    ``dedup_scope()`` / ``unpersist_intermediates()`` to release it) →
    distinct(id, line) + groupBy(line) for document frequencies (one
    shuffle on the line) → LEFT ANTI equi-join of lines against the hot
    set (second shuffle on the line — NOT a broadcast: at corpus scale
    the boilerplate set is unbounded) → groupBy(id) reassembly via
    array_sort(collect_list) (third shuffle, on id). Exempt lines can
    never enter the hot set, so the anti-join preserves them by
    construction. No UDFs, no driver data, skew on viral lines handled
    by AQE.
    """
    import re as _re


    text = F.coalesce(F.col(text_col), F.lit(""))
    lines = persist(
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(text, _re.escape(sep))).alias("pos", "line"),
        )
    )
    hot = (
        lines.filter(F.length("line") >= min_chars)
        .select("id", "line")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") > max_line_df)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("__text__"),
        F.count(F.lit(1)).alias("__n_kept__"),
    )
    # every document yields >= 1 line row (split('') -> ['']), so the
    # cached line frame IS the id spine — no extra source scan
    return (
        lines.groupBy("id").agg(
            F.count(F.lit(1)).cast("int").alias("n_lines")
        )
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("__text__", F.lit("")).alias("text"),
            "n_lines",
            (F.col("n_lines") - F.coalesce("__n_kept__", F.lit(0))).alias(
                "n_removed"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Corpus mixing weights
# ---------------------------------------------------------------------------

def source_mix_weights(
    df: DataFrame,
    group_col: str,
    text_col: str,
    alpha: float = 0.5,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Temperature-scaled sampling weights per corpus source: token
    share s_g = tokens_g / total, weight w_g ∝ s_g^alpha normalized to
    sum 1 — the standard multi-source mixing rule (alpha=1 proportional,
    alpha=0 uniform, 0.5 the usual up-weighting of small sources).

    Execution shape: ONE groupBy(source) over the scan (token counting
    is a per-row projection, partial aggregation map-side), then the
    normalization constants come from a 1-row aggregate of the
    group-sized frame, broadcast back — no second scan, no global
    window. Output is |sources| rows."""
    from topnotch_spark.functions.text import tokens

    per = df.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(tokens(text_col)).cast("long")).alias("n_tokens"),
    )

    per = persist(per)
    tot = per.agg(
        F.sum("n_tokens").alias("__total__"),
        F.sum(F.pow(F.col("n_tokens").cast("double"), alpha)).alias("__z__"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("__total__"), round_digits).alias(
            "token_share"
        ),
        F.round(
            F.pow(F.col("n_tokens").cast("double"), alpha) / F.col("__z__"),
            round_digits,
        ).alias("mix_weight"),
    )


def mixture_allocate(
    df: DataFrame,
    group_col: str,
    text_col: str,
    targets_milli: dict[str, int],
    budget_tokens: int,
    max_repeat_milli: int = 1000,
    round_digits: int = 6,
) -> DataFrame:
    """Turn a target mixing distribution into an EXECUTABLE token
    allocation under per-source epoch caps — the planning step between
    :func:`source_mix_weights` (which proposes targets) and an actual
    training-mix build: "give me ``budget_tokens`` tokens distributed
    like ``targets_milli``, but never repeat any source more than
    ``max_repeat_milli``/1000 epochs".

    The exact solution is waterfilling: alloc_s = min(θ·t_s, cap_s)
    with the water level θ chosen so the allocations sum to the budget
    (undersized sources saturate at their cap; the surplus flows to the
    rest, preserving the target RATIOS among unsaturated sources).
    Closed form, no iteration: sort sources by cap_s/t_s ascending —
    saturation is then a PREFIX, and row i is capped iff
    ``cap_i · T_i ≤ (B − C_{i-1}) · t_i`` (the ratio test
    cross-multiplied into pure BIGINT products — no float water level),
    where C is the prefix cap sum and T the suffix target sum. Alloc
    for uncapped rows is integer ``(B − C_capped) · t_s div T_uncapped``
    (floor; ≤|sources| tokens of the budget stay unallocated, reported
    via realized_milli). Sources with no target entry get t=0 (alloc
    0); a budget above Σcaps saturates everything and under-delivers
    visibly.

    Output, one row per source: (group_col, tokens_available,
    target_milli, cap_tokens, alloc_tokens, epochs, capped,
    realized_milli) — epochs = alloc/available rounded, realized_milli
    the achieved mix in milli-units of the TOTAL allocation, so
    ``assertion`` gates like ``abs(realized_milli - target_milli) <= 50``
    audit mix drift directly.

    Execution shape (100 TB): one groupBy(source) scan for token
    counts; every window/join after runs on the |sources|-row frame
    (global windows there are deliberate and bounded — the
    mixture-planning frame is dozens of rows, not corpus-sized)."""
    from topnotch_spark.functions.text import tokens as _toks

    if budget_tokens <= 0:
        raise ValueError("mixture_allocate: budget_tokens must be > 0")
    if max_repeat_milli <= 0:
        raise ValueError("mixture_allocate: max_repeat_milli must be > 0")
    if not targets_milli:
        raise ValueError("mixture_allocate: targets_milli must be non-empty")
    tgt_rows = ", ".join(
        "('{}', {}L)".format(str(s).replace("'", "''"), int(m))
        for s, m in sorted(targets_milli.items())
    )
    per = persist(
        df.groupBy(F.col(group_col).alias("__g__")).agg(
            F.sum(F.size(_toks(text_col)).cast("long")).alias("avail")
        )
    )
    spark = df.sparkSession
    tgt = spark.sql(
        f"SELECT g AS __g__, t_milli FROM VALUES {tgt_rows} AS v(g, t_milli)"
    )
    base = (
        per.join(F.broadcast(tgt), "__g__", "left")
        .select(
            "__g__",
            "avail",
            F.coalesce(F.col("t_milli"), F.lit(0).cast("long")).alias("t"),
            F.expr(
                f"avail * CAST({int(max_repeat_milli)} AS BIGINT) div 1000"
            ).alias("cap"),
        )
    )
    # ratio order cap/t asc (t=0 → +inf, sorts last); source tiebreak.
    # The double ratio is ORDERING ONLY — the saturation test below is
    # exact integer cross-multiplication.
    w = Window.orderBy(
        F.expr(
            "CASE WHEN t > 0 THEN CAST(cap AS DOUBLE) / t "
            "ELSE CAST('Infinity' AS DOUBLE) END"
        ),
        F.col("__g__"),
    )
    rows = w.rowsBetween(Window.unboundedPreceding, -1)
    suffix = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    B = int(budget_tokens)
    staged = base.select(
        "__g__",
        "avail",
        "t",
        "cap",
        F.coalesce(F.sum("cap").over(rows), F.lit(0).cast("long")).alias(
            "__cpre__"
        ),
        F.sum("t").over(suffix).alias("__tsuf__"),
    ).select(
        "*",
        # capped iff t > 0 AND cap·T_suffix ≤ (B − C_prefix)·t — pure
        # BIGINT cross-products, no float water level. Boundary ties
        # (cap exactly at the water level) read as capped; validated
        # against an iterative-waterfilling reference on 200k random
        # cases: allocations identical everywhere, the flag differs
        # only on those exact-tie rows (documented convention). t = 0
        # rows are never capped (they allocate 0), and greatest(0,·)
        # keeps the test failing once the water is exhausted.
        (
            (F.col("t") > 0)
            & (
                F.col("cap") * F.col("__tsuf__")
                <= F.expr(f"greatest(CAST({B} AS BIGINT) - __cpre__, 0L) * t")
            )
        ).alias("capped"),
    )
    staged = persist(staged)
    pool = staged.filter(F.col("capped")).agg(
        F.coalesce(F.sum("cap"), F.lit(0).cast("long")).alias("__csat__")
    )
    tpool = staged.filter(~F.col("capped")).agg(
        F.coalesce(F.sum("t"), F.lit(0).cast("long")).alias("__tfree__")
    )
    alloc = (
        staged.crossJoin(F.broadcast(pool))
        .crossJoin(F.broadcast(tpool))
        .select(
            "*",
            F.when(F.col("capped"), F.col("cap"))
            .otherwise(
                F.expr(
                    f"CASE WHEN __tfree__ > 0 THEN "
                    f"greatest(CAST({B} AS BIGINT) - __csat__, 0L) * t "
                    f"div __tfree__ ELSE 0L END"
                )
            )
            .alias("alloc_tokens"),
        )
    )
    tot = alloc.agg(F.sum("alloc_tokens").alias("__tot__"))
    return (
        alloc.crossJoin(F.broadcast(tot))
        .select(
            F.col("__g__").alias(group_col),
            F.col("avail").alias("tokens_available"),
            F.col("t").alias("target_milli"),
            F.col("cap").alias("cap_tokens"),
            "alloc_tokens",
            F.when(
                F.col("avail") > 0,
                F.round(F.col("alloc_tokens") / F.col("avail"), round_digits),
            ).alias("epochs"),
            "capped",
            F.expr(
                "CASE WHEN __tot__ > 0 THEN alloc_tokens * 1000 div __tot__ "
                "ELSE 0L END"
            ).alias("realized_milli"),
        )
        .orderBy(group_col)
    )


def dsir_weights(
    raw: DataFrame,
    target: DataFrame | None,
    id_col: str,
    text_col: str,
    n_buckets: int = 1024,
    k_select: int = 100,
    smooth: float = 1.0,
    scale: int = 1000,
    salt: str = "dsir",
    *,
    target_pred=None,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al., NeurIPS
    2023, DSIR): score every RAW-corpus document by how target-like it
    is under hashed-n-gram bag models, then Gumbel-top-k select — the
    published scalable recipe for "give me the k web documents that
    look most like my curated set".

    Features are unigrams + adjacent bigrams hashed into ``n_buckets``
    via md5 (the paper's hashed n-gram space). Two smoothed bucket
    models: p from the TARGET slice, q from the RAW corpus itself; each
    bucket's log-ratio is frozen to fixed-point
    ``lam_milli = round(scale·(ln((c_p+s)/(N_p+s·B)) −
    ln((c_q+s)/(N_q+s·B))))``, so a document's importance weight
    ``logw_milli = Σ c_doc[b]·lam_milli[b]`` is an exact integer —
    partitioning-independent and oracle-replayable. Selection is
    Gumbel-top-k (the paper resamples ∝ w): each doc draws a
    DETERMINISTIC Gumbel ``g = −ln(−ln(u))`` from its md5 unit fraction
    (the weighted_sample convention — seedless, engine-portable),
    ``key_milli = logw_milli + round(scale·g)``, and the ``k_select``
    largest keys win (ties on id).

    Emits every raw doc: (id, n_features, logw_milli, gumbel_milli,
    key_milli, selected). Docs with no tokens keep logw 0 and compete
    on their Gumbel alone (they are ambient-distribution documents, not
    errors).

    100 TB shape: the tokenized raw frame is persisted once and feeds
    the q model, the per-doc bucket counts, and the output spine; both
    models reduce to ≤ n_buckets rows (map-side-combined groupBys) and
    ride into the scoring join as a broadcast; per-doc scoring is ONE
    groupBy(doc). Selection is a TakeOrdered(k) — never a global sort.

    ``target_pred`` (r13): when the target slice IS a predicate over
    ``raw`` (the common "my curated rows are flagged in the same
    table" case), pass the boolean Column instead of a ``target``
    frame (``target`` is then ignored and may be None). The p model is
    derived from the already-computed per-doc bucket counts — bucket
    counts are additive over docs, so filtering the counted frame is
    value-identical to re-tokenizing the slice — and the second
    tokenize+hash pass over the target text disappears.
    """
    from topnotch_spark.functions.text import tokens

    if n_buckets < 2:
        raise ValueError(f"dsir_weights: n_buckets must be >= 2, got {n_buckets}")
    if smooth <= 0:
        raise ValueError(f"dsir_weights: smooth must be > 0, got {smooth}")

    def features(col):
        t = tokens(col)
        n = F.size(t)
        bi = F.when(
            n >= 2,
            F.zip_with(
                F.slice(t, 1, n - 1),
                F.slice(t, 2, n - 1),
                lambda a, b: F.concat(a, F.lit(" "), b),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(t, bi)

    def bucket(feat):
        return (
            F.conv(
                F.md5(F.concat_ws(":", F.lit(salt), feat)).substr(1, 8),
                16,
                10,
            ).cast("long")
            % n_buckets
        ).cast("int")

    if target is None and target_pred is None:
        raise ValueError(
            "dsir_weights: pass either a target frame or target_pred"
        )
    cols = [F.col(id_col).alias("__id__"), features(text_col).alias("__f__")]
    grp_extra: list[str] = []
    if target_pred is not None:
        # the flag is functionally dependent on __id__, so carrying it
        # through the (doc, bucket) group keys changes no counts
        cols.append(target_pred.cast("boolean").alias("__tgt__"))
        grp_extra = ["__tgt__"]
    arr = persist(raw.select(*cols))
    docbkt = persist(
        arr.select("__id__", *grp_extra, F.explode("__f__").alias("__feat__"))
        .select("__id__", *grp_extra, bucket(F.col("__feat__")).alias("__b__"))
        .groupBy("__id__", "__b__", *grp_extra)
        .agg(F.count(F.lit(1)).alias("__c__"))
    )
    q = docbkt.groupBy("__b__").agg(F.sum("__c__").alias("c_q"))
    # p feeds both its own total (np_) and the lam join — persist the
    # <= n_buckets rows so the target corpus is scanned exactly once
    if target_pred is not None:
        p = persist(
            docbkt.filter(F.col("__tgt__"))
            .groupBy("__b__")
            .agg(F.sum("__c__").alias("c_p"))
        )
    else:
        p = persist(
            target.select(F.explode(features(text_col)).alias("__feat__"))
            .select(bucket(F.col("__feat__")).alias("__b__"))
            .groupBy("__b__")
            .agg(F.count(F.lit(1)).alias("c_p"))
        )
    nq = q.agg(F.sum("c_q").alias("__Nq__"))
    np_ = p.agg(F.sum("c_p").alias("__Np__"))
    s = float(smooth)
    sb = s * n_buckets
    lam_expr = (
        F.log(
            (F.coalesce(F.col("c_p"), F.lit(0)) + F.lit(s))
            / (F.coalesce(F.col("__Np__"), F.lit(0)) + F.lit(sb))
        )
        - F.log((F.col("c_q") + F.lit(s)) / (F.col("__Nq__") + F.lit(sb)))
    ) * F.lit(float(scale))
    lam = (
        q.join(p, "__b__", "left")
        .crossJoin(F.broadcast(nq))
        .crossJoin(F.broadcast(np_))
        .select(
            "__b__", F.round(lam_expr, 0).cast("long").alias("__lam__")
        )
    )
    scored = (
        docbkt.join(F.broadcast(lam), "__b__")
        .groupBy("__id__")
        .agg(
            F.sum("__c__").alias("n_features"),
            F.sum(F.col("__c__") * F.col("__lam__")).alias("logw_milli"),
        )
    )
    u = (
        F.conv(
            F.md5(
                F.concat_ws(
                    ":", F.lit(salt + "g"), F.col("__id__").cast("string")
                )
            ).substr(1, 8),
            16,
            10,
        ).cast("double")
        + F.lit(0.5)
    ) / F.lit(float(2**32))
    gumbel_milli = F.round(-F.log(-F.log(u)) * F.lit(float(scale)), 0).cast(
        "long"
    )
    zero = F.lit(0).cast("long")
    # the scored frame is consumed twice (winner TakeOrdered + final
    # flag join) — persist so the scoring join runs once
    full = persist(
        arr.select("__id__")
        .join(scored, "__id__", "left")
        .select(
            "__id__",
            F.coalesce("n_features", zero).alias("n_features"),
            F.coalesce("logw_milli", zero).alias("logw_milli"),
            gumbel_milli.alias("gumbel_milli"),
        )
        .withColumn(
            "key_milli", F.col("logw_milli") + F.col("gumbel_milli")
        )
    )
    winners = F.broadcast(
        full.orderBy(F.col("key_milli").desc(), F.col("__id__").asc())
        .limit(k_select)
        .select("__id__", F.lit(True).alias("__sel__"))
    )
    return full.join(winners, "__id__", "left").select(
        F.col("__id__").alias(id_col),
        "n_features",
        "logw_milli",
        "gumbel_milli",
        "key_milli",
        F.coalesce("__sel__", F.lit(False)).alias("selected"),
    )


def cluster_safe_split(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float],
    salt: str = "csplit",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
    shingle_n: int = 5,
) -> DataFrame:
    """Leakage-safe train/val/test assignment: hash-split by DUPLICATE
    CLUSTER, not by document, so near-duplicates can never straddle a
    split boundary (the leak `split_leakage` DETECTS, prevented by
    construction — Lee et al. 2022's held-out contamination finding is
    exactly this failure). Pipeline: MinHash-LSH near-dup pairs →
    connected components → every doc keyed by its component min-id
    (unclustered docs key by their own id) → the deterministic md5
    split on that group key.

    Returns (id, group_key, split); members of one cluster share
    group_key and therefore split, while membership keeps hash_split's
    properties (engine-portable, stable under corpus growth for
    unchanged clusters).

    Execution shape: the LSH banding join + O(log d) component rounds
    dominate (both bucketed — see the dedup family notes); the final
    assignment is ONE left join of the corpus against the pair-graph-
    sized component frame plus a zero-shuffle projection."""
    from topnotch_spark.operators.cluster import connected_components
    from topnotch_spark.operators.dedup import minhash_lsh_dedup

    pairs = minhash_lsh_dedup(
        df, id_col, text_col,
        num_hashes=num_hashes, bands=bands, threshold=threshold,
        shingle_n=shingle_n,
    )
    comps = connected_components(pairs).select(
        F.col("id").alias("__cc_id__"), F.col("comp").alias("__cc_comp__")
    )
    keyed = (
        df.select(F.col(id_col))
        .join(comps, F.col(id_col) == F.col("__cc_id__"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("__cc_comp__"), F.col(id_col)).alias(
                "group_key"
            ),
        )
    )
    return hash_split(keyed, "group_key", fractions, salt=salt)


def corpus_diversity(
    df: DataFrame,
    group_col: str,
    cat_col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Diversity indices of a categorical composition per corpus slice —
    the scalar summaries mix planning actually compares ("source A is
    lang-diverse, source B is a monoculture") where `lang_mix` reports
    the raw shares. Per group over the category distribution:

    - ``shannon_bits``: Shannon entropy −Σ p·log2 p (0 = monoculture)
    - ``simpson``: Gini–Simpson index 1 − Σ p² (probability two random
      docs differ in category)
    - ``gini``: Gini coefficient of the category counts (0 = perfectly
      balanced, →1 = one category dominates), computed with the exact
      rank formula Σ(2rᵢ−k−1)xᵢ / (k·Σx) over counts ranked ascending
      (count, category) — tie-stable because equal counts contribute a
      permutation-invariant block sum.

    Execution shape: ONE groupBy(group, cat) over the scan (map-side
    combined), then windows + the final groupBy run on the rollup frame
    itself — |groups|×|cats| rows, bounded regardless of corpus size.
    Zero joins, zero second scan."""
    counts = df.groupBy(F.col(group_col), F.col(cat_col)).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy(group_col)
    r = Window.partitionBy(group_col).orderBy(
        F.col("n").asc(), F.col(cat_col).asc()
    )
    per = counts.select(
        group_col,
        "n",
        F.sum("n").over(w).alias("tot"),
        F.count(F.lit(1)).over(w).alias("k"),
        F.row_number().over(r).cast("long").alias("rnk"),
    )
    p = F.col("n") / F.col("tot")
    return per.groupBy(group_col).agg(
        F.max("tot").alias("n_rows"),
        F.count(F.lit(1)).alias("n_cats"),
        F.round(F.lit(0.0) - F.sum(p * F.log2(p)), round_digits).alias(
            "shannon_bits"
        ),
        F.round(F.lit(1.0) - F.sum(p * p), round_digits).alias("simpson"),
        F.round(
            F.sum(
                (2 * F.col("rnk") - F.col("k") - 1) * F.col("n")
            ) / (F.max("k") * F.max("tot")),
            round_digits,
        ).alias("gini"),
    )


def sample_to_token_budget(
    df: DataFrame,
    id_col: str,
    text_col: str,
    group_col: str,
    budget_tokens: int,
    alpha: float = 0.5,
    round_digits: int = 6,
) -> DataFrame:
    """Mixture sampling to a global token budget: each source gets
    ``budget * mix_weight`` tokens (temperature-``alpha`` weights from
    source_mix_weights), filled by a deterministic hash-ordered prefix
    of the source's documents — the doc that crosses the target is
    included, so each source overshoots by less than one document and
    membership is stable under re-runs (seedless md5 order, same
    property as hash_split/stratified_sample).

    Output per document: (id, group, n_tokens, cum_tokens,
    target_tokens, selected).

    Execution shape: one groupBy for the per-source token totals
    (broadcast back as |sources| rows), one window partitioned by
    source for the prefix sum — parallel across sources, never a global
    sort. At 100 TB the window sort is per-source; a pathologically
    dominant source can be pre-split on a salt and re-aggregated since
    prefix membership only depends on the hash order."""
    from pyspark.sql import Window

    from topnotch_spark.functions.text import tokens

    weights = source_mix_weights(
        df, group_col, text_col, alpha, round_digits=round_digits
    )
    base = df.select(
        F.col(id_col),
        F.col(group_col),
        F.coalesce(F.size(tokens(text_col)), F.lit(0))
        .cast("long")
        .alias("n_tokens"),
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = F.sum("n_tokens").over(w)
    target = F.round(
        F.lit(float(budget_tokens)) * F.col("mix_weight"), round_digits
    )
    return (
        base.join(
            F.broadcast(weights.select(group_col, "mix_weight")), group_col
        )
        .select(
            id_col,
            group_col,
            "n_tokens",
            cum.alias("cum_tokens"),
            target.alias("target_tokens"),
            ((cum - F.col("n_tokens")) < target).alias("selected"),
        )
    )


# ---------------------------------------------------------------------------
# Curriculum sampling (quality-banded keep rates)
# ---------------------------------------------------------------------------

def curriculum_sample(
    df: DataFrame,
    id_col: str,
    order_col: str,
    partition_col: str,
    n_bands: int = 10,
    salt: str = "curriculum",
) -> DataFrame:
    """Quality-curriculum downsampling: band documents into per-source
    quality deciles (ntile over ``order_col`` desc), then keep each row
    with probability (n_bands + 1 - band) / n_bands-style linear decay —
    band 1 (best) keeps everything, the bottom band keeps 1/n_bands.
    The deterministic md5 draw makes membership seedless and
    engine-portable (same contract as stratified_sample/hash_split).

    Returns the kept rows as (id, partition, order value, band,
    keep_rate). ntile follows the SQL-standard bucket rule (earlier
    buckets one row larger on uneven splits) in both Spark and DuckDB,
    so the oracle reproduces bands exactly; the (order, id) tiebreak
    pins band edges when order values collide.

    Execution shape: ONE window pass partitioned by source (parallel
    across sources — never a global sort) + a filter projection. Zero
    joins, zero extra shuffles beyond the window's partition exchange.
    """
    w = Window.partitionBy(partition_col).orderBy(
        F.col(order_col).desc(), F.col(id_col).asc()
    )
    band = F.ntile(n_bands).over(w)
    rate = (F.lit(n_bands + 1) - band).cast("double") / F.lit(n_bands)
    u = (
        F.conv(
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
            ).substr(1, 8),
            16,
            10,
        ).cast("double")
        / F.lit(float(16**8))
    )
    # Filter on the UNROUNDED rate (the oracle's WHERE uses the exact
    # (n_bands + 1 - band) / n_bands double); keep F.round only for the
    # reported keep_rate column. Filtering on the rounded value diverges
    # from the oracle whenever the rate needs > 6 decimal digits
    # (n_bands = 3, 6, 7, 9, ...).
    return (
        df.select(
            F.col(id_col),
            F.col(partition_col),
            F.col(order_col),
            band.alias("band"),
            rate.alias("__rate__"),
            u.alias("__u__"),
        )
        .filter(F.col("__u__") < F.col("__rate__"))
        .select(
            F.col(id_col),
            F.col(partition_col),
            F.col(order_col),
            "band",
            F.round(F.col("__rate__"), 6).alias("keep_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Train/val split leakage report
# ---------------------------------------------------------------------------

def split_leakage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    fractions: dict[str, float] | None = None,
    holdout_split: str = "val",
    train_split: str = "train",
    shingle_n: int = 5,
    max_shingle_df: int | None = 1000,
    salt: str = "split",
) -> DataFrame:
    """Cross-split contamination report: for every HOLDOUT document,
    how many word n-gram shingles it shares with ANY train document,
    and with how many distinct train partners — the check that a
    hash-split didn't put near-duplicates on both sides of the
    train/val boundary (they leak eval signal even though ids differ).

    Returns (id, n_common, n_train_partners, leak_frac) for holdout
    docs with >= 1 shared shingle; leak_frac = shared distinct shingles
    / the holdout doc's distinct shingles.

    Execution shape (the 100 TB path): split assignment is a zero-
    shuffle projection (hash_split); per-doc distinct shingles come
    from ONE regex pass reused by both sides; the train/holdout match
    is a shingle equi-JOIN (sort-merge on the shingle string — neither
    side is assumed broadcastable, unlike the benchmark-decontamination
    screen), with the train side's viral shingles valved by
    ``max_shingle_df`` exactly like dedup.ngram_jaccard_pairs; one
    groupBy(holdout id) ends it. Nothing is pairwise in |corpus|.

    The shared shingle frame is registered in the dedup persist
    registry; consume inside ``dedup_scope()`` or call
    ``unpersist_intermediates()`` to release it (under a checkpoint dir
    the persist is an eager parquet spill).
    """
    from topnotch_spark.operators.dedup import shingle_arrays

    fractions = fractions or {"train": 0.8, "val": 0.1, "test": 0.1}
    # split is a pure function of md5(id), so assign it AFTER the shingle
    # pass — a projection on the shingle frame, zero extra shuffle/join.
    # PERSISTED: three branches read it (train side, train-df cap,
    # holdout side); without the persist each branch re-runs the regex
    # shingle extraction over the full corpus.
    arr = persist(
        hash_split(
            shingle_arrays(df, id_col, text_col, shingle_n),
            "id",
            fractions,
            salt=salt,
        )
    )
    train = arr.filter(F.col("split") == train_split).select(
        F.col("id").alias("train_id"), F.explode("shs").alias("sh")
    )
    if max_shingle_df is not None:
        caps = (
            train.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_shingle_df)
            .select("sh")
        )
        train = train.join(caps, "sh")
    hold = arr.filter(F.col("split") == holdout_split).select(
        F.col("id"), F.size("shs").alias("n_sh"), F.explode("shs").alias("sh")
    )
    return (
        hold.join(train, "sh")
        .groupBy("id", "n_sh")
        .agg(
            F.count_distinct("sh").alias("n_common"),
            F.count_distinct("train_id").alias("n_train_partners"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_common",
            "n_train_partners",
            F.round(F.col("n_common") / F.col("n_sh"), 6).alias("leak_frac"),
        )
    )
