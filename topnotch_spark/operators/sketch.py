"""Mergeable distinct-count sketches (Apache DataSketches HLL via
Spark's built-in ``hll_sketch_agg`` / ``hll_union_agg`` /
``hll_sketch_estimate``).

The 100 TB pattern for "distinct users per <any slice>": computing
exact COUNT(DISTINCT) per slice re-shuffles the raw data for EVERY
grouping the analyst asks for. Sketches make distinct counts
PRE-AGGREGATABLE: build one small binary sketch per detail cell once
(daily × source, say), persist that dimension-sized table, and any
coarser rollup (weekly, per-source, global) is a cheap union of
sketches — no second pass over the raw 100 TB, and sketch tables
compose across incremental loads (yesterday's sketches never need
rebuilding).

Estimates are approximate (~1.6%/sqrt(2^lg_k) relative standard error
— the DataSketches HLL bound; lg_k=12 ⇒ ~2.5%) and the sketch binary
is engine-specific, so this family is deliberately NOT oracle-twinned:
correctness is gated by pytest bounds against exact counts and by the
merge-consistency property (union-of-parts ≈ sketch-of-whole), the
same policy as `profile_lineitem_approx`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist

SKETCH_COL = "__hll_sketch__"


def build_distinct_sketches(
    df: DataFrame,
    detail_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """One HLL sketch per detail cell: (detail_cols..., sketch binary).
    ONE map-side-combined groupBy; output is dimension-sized (a few KB
    per cell), the table you persist and re-union forever after."""
    if not detail_cols:
        raise ValueError("build_distinct_sketches: detail_cols required")
    return df.groupBy(*detail_cols).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lg_k)).alias(SKETCH_COL)
    )


def rollup_distinct(
    sketches: DataFrame,
    rollup_cols: list[str],
) -> DataFrame:
    """Union the detail sketches up to ``rollup_cols`` and estimate:
    (rollup_cols..., n_distinct_est). Input is the sketch table — the
    raw data is never touched again. Pass ``[]`` for a single global
    row (grouped on a constant, so the aggregation stays map-side
    combined rather than single-partition)."""
    est = F.hll_sketch_estimate(
        F.hll_union_agg(F.col(SKETCH_COL))
    ).alias("n_distinct_est")
    if rollup_cols:
        return sketches.groupBy(*rollup_cols).agg(est)
    return sketches.groupBy(F.lit(1).alias("__g__")).agg(est).drop("__g__")


def distinct_rollup(
    df: DataFrame,
    detail_cols: list[str],
    rollup_cols: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Convenience: build detail sketches and roll them up in one call.
    ``rollup_cols`` must be a subset of ``detail_cols`` (that is what
    makes the rollup a pure sketch union)."""
    extra = set(rollup_cols) - set(detail_cols)
    if extra:
        raise ValueError(
            f"distinct_rollup: rollup_cols {sorted(extra)} not in "
            f"detail_cols {detail_cols}"
        )
    return rollup_distinct(
        build_distinct_sketches(df, detail_cols, value_col, lg_k),
        rollup_cols,
    )


# ---------------------------------------------------------------------------
# Count-Min sketch (frequency estimation)
# ---------------------------------------------------------------------------
#
# The heavy-hitter companion to the HLL distinct sketch and the Bloom
# seen-set: a depth x width grid of counters answering "about how many
# times has key k appeared" with one-sided error (never UNDER-estimates;
# over-estimate bounded by ~N/width per row, min over depth rows).
# Unlike the HLL binary, every cell is a plain integer derived from the
# same md5 double hashing as operators/membership.py, so the whole
# sketch — and every estimate — is bit-exact reproducible in any ANSI
# engine and the catalog query carries a full DuckDB oracle.
#
# Mergeability: cells add — union parts and sum per (row_idx, col_idx).
# The 100 TB pattern mirrors the HLL one: build per ingest batch, keep
# the (depth x width)-row cell table, merge forever after; frequency
# questions never re-read the raw corpus.


def cms_build(
    df: DataFrame,
    key,
    width: int = 1024,
    depth: int = 4,
    *,
    prehashed: bool = False,
) -> DataFrame:
    """Build the sketch: (row_idx, col_idx, cnt) cells, only non-zero
    cells present (≤ depth·width rows regardless of corpus size). One
    posexplode (depth rows per input row) + ONE map-side-combined
    groupBy. Positions are Kirsch-Mitzenmacher double hashes of
    md5(key) — row j probes col (h1 + j·h2) mod width."""
    from topnotch_spark.operators.membership import _positions

    keyc = F.col(key) if isinstance(key, str) else key
    pos = df.select(
        F.posexplode(_positions(keyc, width, depth, prehashed)).alias(
            "row_idx", "col_idx"
        )
    )
    return pos.groupBy("row_idx", "col_idx").agg(
        F.count(F.lit(1)).alias("cnt")
    )


def cms_merge(parts: list[DataFrame]) -> DataFrame:
    """Merge sketches built with the SAME (width, depth): cells add."""
    if not parts:
        raise ValueError("cms_merge: parts must be non-empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("row_idx", "col_idx").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_query(
    df: DataFrame,
    id_col: str,
    key,
    cms: DataFrame,
    width: int = 1024,
    depth: int = 4,
    *,
    prehashed: bool = False,
) -> DataFrame:
    """Estimate each row's key frequency: (id, est_count) with
    est_count = min over the depth rows of the probed cell (0 when a
    cell is absent — the key was never seen). ``width``/``depth`` MUST
    match the build. The sketch broadcasts (≤ depth·width rows); the
    query side streams — same never-reshuffle-the-corpus shape as the
    Bloom probe."""
    from topnotch_spark.operators.membership import _positions

    keyc = F.col(key) if isinstance(key, str) else key
    pos = df.select(
        F.col(id_col),
        F.posexplode(_positions(keyc, width, depth, prehashed)).alias(
            "row_idx", "col_idx"
        ),
    )
    return (
        pos.join(F.broadcast(cms), ["row_idx", "col_idx"], "left")
        .groupBy(id_col)
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
        )
    )


# ---------------------------------------------------------------------------
# KMV quantile sketch (deterministic bottom-k-by-hash value sample)
# ---------------------------------------------------------------------------

def cms_join_size(
    df1: DataFrame,
    key1,
    df2: DataFrame,
    key2,
    width: int = 1024,
    depth: int = 4,
    round_digits: int = 6,
) -> DataFrame:
    """Join-cardinality estimation from Count-Min sketches (the AMS-style
    inner-product estimator, Cormode & Muthukrishnan 2005 §4.2): the
    true equi-join output size is ``Σ_k c₁(k)·c₂(k)``; with both sides'
    CMS cells it is estimated as ``min over depth rows of
    Σ_col cnt₁·cnt₂`` — never an UNDER-estimate (hash collisions only
    add mass), over by ≤ N₁·N₂/width per row in expectation. The
    planner's question — "can I afford this join / will it explode on a
    hot key" — answered from two dimension-sized sketch tables WITHOUT
    touching the raw tables again (sketches persist and merge across
    loads).

    Emits 1 row: (est_join_size, exact_join_size, overestimate,
    rel_err) — the audit form, grading the estimate against one exact
    per-key counts join (the expensive pass that exists only here;
    production reads the sketches).

    Execution shape: two CMS builds (one posexplode + map-side groupBy
    each, ≤ depth·width cells out), the inner product on a
    (row, col)-keyed join of the two cell tables, and the exact side's
    two per-key rollups joined on the key. Everything after the rollups
    is sketch-sized."""
    s1 = cms_build(df1, key1, width, depth)
    s2 = cms_build(df2, key2, width, depth).select(
        "row_idx", "col_idx", F.col("cnt").alias("cnt2")
    )
    spine = df1.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row_idx")
    )
    ip = (
        s1.join(s2, ["row_idx", "col_idx"])
        .groupBy("row_idx")
        .agg(F.sum(F.col("cnt") * F.col("cnt2")).alias("ip"))
    )
    est = (
        spine.join(ip, "row_idx", "left")
        .agg(F.min(F.coalesce("ip", F.lit(0))).alias("est_join_size"))
    )
    k1 = F.col(key1) if isinstance(key1, str) else key1
    k2 = F.col(key2) if isinstance(key2, str) else key2
    g1 = df1.select(k1.cast("string").alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("c1")
    )
    g2 = df2.select(k2.cast("string").alias("k")).groupBy("k").agg(
        F.count(F.lit(1)).alias("c2")
    )
    exact = g1.join(g2, "k").agg(
        F.coalesce(F.sum(F.col("c1") * F.col("c2")), F.lit(0)).alias(
            "exact_join_size"
        )
    )
    joined = est.crossJoin(F.broadcast(exact))
    return joined.select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias(
            "overestimate"
        ),
        F.when(
            F.col("exact_join_size") > 0,
            F.round(
                (
                    F.col("est_join_size") - F.col("exact_join_size")
                ).cast("double")
                / F.col("exact_join_size").cast("double"),
                round_digits,
            ),
        ).alias("rel_err"),
    )


def kmv_build(
    df: DataFrame,
    id_col: str,
    value_col: str,
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Mergeable quantile sketch: keep the ``k`` rows whose
    md5(salt ':' id) hashes are globally smallest, carrying their
    values — a deterministic uniform value sample (bottom-k order
    statistics of a hash are the classic KMV construction), so every
    engine and every partitioning selects the SAME sample. Quantiles
    of the sample estimate quantiles of the stream with rank error
    O(1/sqrt(k)).

    Execution shape: one projection + TakeOrdered(k) by hash —
    per-partition k-row heaps merged on the driver, never a global
    sort. The sketch is (value double, __h__) rows; persist it next to
    the HLL/Bloom/CMS tables and answer quantile questions without
    re-reading the corpus. ``kmv_merge`` composes incremental loads:
    bottom-k of a union is bottom-k of the parts' bottom-k's, so
    merge-of-parts EQUALS sketch-of-whole bit-for-bit (asserted in
    tests, not approximately like the HLL).

    The ordering tiebreaks on ``value``: when ``id_col`` is not unique,
    duplicate ids hash identically while carrying different values, and
    a bottom-k boundary cutting through such a tie group would make the
    selected sample engine- and partitioning-dependent (observed: the
    sf0.001 lineitem rid has 1,161 duplicated keys and Spark/DuckDB
    picked different tie members at the k=256 boundary). (h, value) is
    a total order up to fully-identical rows, which are
    interchangeable."""
    h = F.md5(
        F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))
    )
    return (
        df.select(
            F.col(value_col).cast("double").alias("value"),
            h.alias("__h__"),
        )
        .orderBy("__h__", "value")
        .limit(k)
    )


def kmv_merge(parts: list[DataFrame], k: int = 256) -> DataFrame:
    """Merge sketches built with the SAME salt/k: union, re-take the
    k smallest hashes. Exact: equals the sketch of the concatenated
    inputs. Same (h, value) deterministic tie order as kmv_build."""
    if not parts:
        raise ValueError("kmv_merge: parts must be non-empty")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("__h__", "value").limit(k)


def kmv_group_jaccard(
    df: DataFrame,
    group_col: str,
    value_col: str,
    k: int = 256,
    salt: str = "kmvset",
    round_digits: int = 6,
    grade_exact: bool = False,
) -> DataFrame:
    """KMV set-operation sketch (Beyer et al., SIGMOD 2007): for every
    unordered pair of groups, estimate the distinct-value UNION size,
    JACCARD similarity, and INTERSECTION size from per-group bottom-k
    hash sketches — the sketch-path twin of the exact
    textqc.vocab_overlap join. The classic estimators: with U the k
    smallest hashes of the union of two sketches, ``est_union =
    (k−1)/h_k`` (or the exact count when the union sketch is not full),
    ``est_jaccard = |U ∩ S_a ∩ S_b| / |U|``, and ``est_intersection =
    est_jaccard · est_union``.

    Everything is derived from md5 hashes mapped to [0, 1) via the first
    8 hex digits, so the estimates are bit-for-bit reproducible on any
    engine — the DuckDB oracle replays them exactly. With
    ``grade_exact`` the output also carries the exact per-group vocab
    sizes, exact Jaccard, and ``jaccard_abs_err`` — the accuracy-audit
    form (the dedup_minhash_recall policy: the sketch answers, an exact
    pass grades it).

    100 TB shape: ONE distinct on (group, hash) is the only full-data
    shuffle; the per-group bottom-k window reduces it to |groups|·k rows
    and every pairwise stage runs on that sketch table (pair fan-out
    O(|groups|²·k) — group count is a dimension, not data). Production
    persists the sketch table and answers overlap questions for new
    group pairs without re-reading the corpus (kmv-style mergeability:
    bottom-k of a union is bottom-k of the parts). The exact grading
    join is the expensive part and exists only in the audit form."""
    from pyspark.sql import Window


    if k < 2:
        raise ValueError(f"kmv_group_jaccard: k must be >= 2, got {k}")
    h = F.md5(
        F.concat_ws(
            ":", F.lit(salt), F.col(value_col).cast("string")
        )
    )
    dv = df.select(F.col(group_col).alias("g"), h.alias("__h__")).distinct()
    if grade_exact:
        dv = persist(dv)
    wg = Window.partitionBy("g").orderBy("__h__")
    sk = persist(
        dv.withColumn("__rn__", F.row_number().over(wg))
        .filter(F.col("__rn__") <= k)
        .drop("__rn__")
    )
    groups = sk.select("g").distinct()
    pairs = (
        groups.select(F.col("g").alias("group_a"))
        .crossJoin(groups.select(F.col("g").alias("group_b")))
        .filter(F.col("group_a") < F.col("group_b"))
    )
    pa = sk.join(F.broadcast(pairs), sk["g"] == pairs["group_a"]).select(
        "group_a", "group_b", "__h__",
        F.lit(1).alias("in_a"), F.lit(0).alias("in_b"),
    )
    pb = sk.join(F.broadcast(pairs), sk["g"] == pairs["group_b"]).select(
        "group_a", "group_b", "__h__",
        F.lit(0).alias("in_a"), F.lit(1).alias("in_b"),
    )
    u = (
        pa.unionByName(pb)
        .groupBy("group_a", "group_b", "__h__")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wp = Window.partitionBy("group_a", "group_b").orderBy("__h__")
    uk = u.withColumn("__rn__", F.row_number().over(wp)).filter(
        F.col("__rn__") <= k
    )
    per_pair = uk.groupBy("group_a", "group_b").agg(
        F.count(F.lit(1)).alias("n_union_sk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("shared_sk"),
        F.max("__h__").alias("__hk__"),
    )
    hk_unit = (
        F.conv(F.substring("__hk__", 1, 8), 16, 10)
        .cast("long")
        .cast("double")
        / F.lit(4294967296.0)
    )
    est_union = F.when(
        F.col("n_union_sk") < k, F.col("n_union_sk").cast("double")
    ).otherwise(F.lit(float(k - 1)) / hk_unit)
    jac = F.col("shared_sk").cast("double") / F.col("n_union_sk").cast(
        "double"
    )
    out = per_pair.select(
        "group_a",
        "group_b",
        "n_union_sk",
        "shared_sk",
        F.round(est_union, round_digits).alias("est_union"),
        F.round(jac, round_digits).alias("est_jaccard"),
        F.round(jac * est_union, round_digits).alias("est_intersection"),
    )
    if not grade_exact:
        return out
    sizes = dv.groupBy("g").agg(F.count(F.lit(1)).alias("n"))
    ea = F.broadcast(
        sizes.select(F.col("g").alias("group_a"), F.col("n").alias("vocab_a"))
    )
    eb = F.broadcast(
        sizes.select(F.col("g").alias("group_b"), F.col("n").alias("vocab_b"))
    )
    a = dv.select(F.col("g").alias("group_a"), "__h__")
    b = dv.select(F.col("g").alias("group_b"), "__h__")
    inter = (
        a.join(b, "__h__")
        .filter(F.col("group_a") < F.col("group_b"))
        .groupBy("group_a", "group_b")
        .agg(F.count(F.lit(1)).alias("shared_exact"))
    )
    graded = (
        out.join(inter, ["group_a", "group_b"], "left")
        .join(ea, "group_a")
        .join(eb, "group_b")
        .withColumn("shared_exact", F.coalesce("shared_exact", F.lit(0)))
    )
    exact_jac = F.col("shared_exact").cast("double") / (
        F.col("vocab_a") + F.col("vocab_b") - F.col("shared_exact")
    ).cast("double")
    est_jac = F.col("est_jaccard")
    return graded.select(
        "group_a",
        "group_b",
        "n_union_sk",
        "shared_sk",
        "est_union",
        "est_jaccard",
        "est_intersection",
        "vocab_a",
        "vocab_b",
        "shared_exact",
        F.round(exact_jac, round_digits).alias("exact_jaccard"),
        F.round(F.abs(est_jac - F.round(exact_jac, round_digits)), round_digits).alias(
            "jaccard_abs_err"
        ),
    )


def kmv_accuracy(
    df: DataFrame,
    id_col: str,
    value_col: str,
    qs: tuple = (0.25, 0.5, 0.75, 0.9, 0.99),
    k: int = 256,
    salt: str = "kmv",
    round_digits: int = 6,
) -> DataFrame:
    """Sketch-vs-exact rank-accuracy verdict (the profile_lineitem_approx
    policy: the sketch answers, an exact pass grades it, the verdict
    frame is hash-checkable): for each quantile q, the KMV estimate is
    the sample value at row ceil(q·n) (value asc, hash asc tiebreak),
    its TRUE rank is counted against the full column in one aggregate
    scan (no global sort — rank(est) = count(value <= est)), and
    ``within_bound`` asserts |rank/N − q| ≤ 3/sqrt(k).

    Returns (q, n_total, n_sample, est, est_rank, target_rank,
    rank_err, within_bound). 100 TB shape: TakeOrdered builds the
    sketch in one pass; the grading join is |qs| broadcast rows against
    one more aggregate pass — the expensive exact pass exists ONLY in
    this verdict query, production reads the persisted sketch."""
    from pyspark.sql import Window


    vals = persist(
        df.select(
            F.col(id_col).cast("string").alias("__id__"),
            F.col(value_col).cast("double").alias("value"),
        )
    )
    sketch = kmv_build(vals, "__id__", "value", k=k, salt=salt)
    # rank the k-row sample (global window over a TakeOrdered frame —
    # bounded by construction, the key_skew_orders precedent)
    w = Window.orderBy(F.col("value").asc(), F.col("__h__").asc())
    ranked = sketch.withColumn("__rn__", F.row_number().over(w))
    n_sample = sketch.agg(F.count(F.lit(1)).alias("n_sample"))
    qdf = ranked.sparkSession.createDataFrame(
        [(float(q),) for q in qs], "q double"
    )
    ests = (
        qdf.crossJoin(F.broadcast(n_sample))
        .join(
            F.broadcast(ranked),
            F.ceil(F.col("q") * F.col("n_sample")) == F.col("__rn__"),
        )
        .select("q", "n_sample", F.col("value").alias("est"))
    )
    totals = vals.agg(F.count(F.lit(1)).alias("n_total"))
    graded = (
        vals.crossJoin(F.broadcast(ests))
        .groupBy("q", "n_sample", "est")
        .agg(
            F.count(F.when(F.col("value") <= F.col("est"), 1)).alias(
                "est_rank"
            )
        )
        .crossJoin(F.broadcast(totals))
    )
    bound = 3.0 / (k ** 0.5)
    err = (
        F.abs(
            F.col("est_rank") / F.col("n_total") - F.col("q")
        )
    )
    return graded.select(
        "q",
        "n_total",
        "n_sample",
        "est",
        "est_rank",
        F.ceil(F.col("q") * F.col("n_total")).alias("target_rank"),
        F.round(err, round_digits).alias("rank_err"),
        (err <= F.lit(bound)).alias("within_bound"),
    )
