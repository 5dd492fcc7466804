"""Distribution-drift detection: fixed-width histogram compare + PSI.

The row-level diff (operators/diff.py) answers "which rows changed"; this
answers "did the DISTRIBUTION of a column shift" between a reference and
a current dataset — the standard QC gate for training-data refreshes and
model-input monitoring (Population Stability Index).

Semantics (engine-portable, no RNG, no approximation):
- bucket bounds are ``n_buckets`` equal-width intervals over the
  REFERENCE min/max (nulls excluded); out-of-range current values clamp
  into the edge buckets;
- per bucket: counts, fractions, and the PSI term
  ``(q - p) * ln(q / p)`` with zero fractions smoothed to ``eps`` (the
  standard PSI convention, and a determinism requirement — ln(0) is not
  an option);
- total PSI = sum of terms (classic read: <0.1 stable, 0.1-0.25 drifting,
  >0.25 shifted).

Execution shape: one tiny min/max aggregation on the reference (two
scalars to the driver — unavoidable, bounds gate the bucketing), then
ONE groupBy per side on the bucket index + a broadcast join against the
``n_buckets``-row spine. Scan-bound at any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist


def histogram_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_buckets: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Per-bucket drift table: (bucket, lo, hi, n_ref, n_cur, frac_ref,
    frac_cur, psi_term). Sum psi_term for the total PSI."""
    spark = ref.sparkSession
    r = ref.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    c = cur.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    mn, mx = r.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None:
        raise ValueError(
            f"histogram_drift: reference has no non-null values in '{col}'"
        )
    mn, mx = float(mn), float(mx)
    if mx == mn:
        raise ValueError(
            f"histogram_drift: reference column '{col}' is constant "
            f"({mn!r}) — equal-width bucketing is undefined; drift on a "
            "constant reduces to an equality assertion"
        )
    width = (mx - mn) / n_buckets

    def bucketed(df: DataFrame, out: str) -> DataFrame:
        idx = F.least(
            F.greatest(
                F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
        return df.select(idx.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(out)
        )

    spine = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    joined = (
        spine.join(bucketed(r, "n_ref"), "bucket", "left")
        .join(bucketed(c, "n_cur"), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    return psi_table(joined, mn, width, eps, round_digits)


def psi_table(
    joined: DataFrame,
    mn: float,
    width: float,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """PSI arithmetic over a (bucket, n_ref, n_cur) count frame — shared
    by the batch path (histogram_drift) and the streaming accumulator
    (streaming/ops.run_streaming_drift), so the two can never drift in
    their double math. Input is n_buckets rows; the frame-wide window
    totals cost nothing at that size."""
    total_r = F.sum("n_ref").over(Window.partitionBy())
    total_c = F.sum("n_cur").over(Window.partitionBy())
    frac_r = F.col("n_ref") / total_r
    frac_c = F.col("n_cur") / total_c
    p = F.when(frac_r == 0, F.lit(eps)).otherwise(frac_r)
    q = F.when(frac_c == 0, F.lit(eps)).otherwise(frac_c)
    return joined.select(
        "bucket",
        (F.lit(mn) + F.col("bucket") * F.lit(width)).alias("lo"),
        (F.lit(mn) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
        "n_ref",
        "n_cur",
        F.round(frac_r, round_digits).alias("frac_ref"),
        F.round(frac_c, round_digits).alias("frac_cur"),
        F.round((q - p) * F.log(q / p), round_digits).alias("psi_term"),
    )


def ks_statistic(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    round_digits: int = 6,
    bins: int | str | None = "auto",
    *,
    auto_bins: int = 1024,
    auto_distinct_threshold: int = 250_000,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic as a 1-row frame
    (ks_stat, n_ref, n_cur): max |ECDF_ref(x) − ECDF_cur(x)| over the
    union of observed values. Complements PSI: parameter-free (no bucket
    count), sensitive to any distributional difference.

    Execution shape: union both sides tagged, ONE groupBy on the value
    (collapses to distinct-value cardinality — the big reduction), then
    a single ordered window for the running ECDFs and a 1-row max. The
    statistic is computed INTEGER-EXACT: the per-row gap is
    ``|cum_ref·n_cur − cum_cur·n_ref|`` over decimal(38,0) cumulative
    counts (exact for any count the engine can hold), with one double
    division at the very end — no per-row float division, so the result
    is identical on any engine/partitioning.

    The exact path's ordered window is one sort over (distinct values ×
    3 longs) — a scale hazard on high-cardinality columns at 100 TB. The
    default ``bins="auto"`` therefore probes ``approx_count_distinct``
    (one scan, no extra shuffle) and switches to a fixed
    ``auto_bins``-bucket grid over the REFERENCE min/max when the
    distinct count exceeds ``auto_distinct_threshold`` (a conservative
    250k — the exact path's single-partition sort stays under ~10 MB of
    window state, and anything wider than that belongs on the grid); the
    ECDF then
    runs over at most ``auto_bins`` rows and the statistic is
    KS-approximate to bucket width. Pass ``bins=None`` to force exact
    (sf-scale / known-low-cardinality data) or ``bins=N`` to pin the
    grid — pinned modes never probe, so oracle-checked results are
    data-independent."""
    r = ref.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("v"), F.lit(1).alias("g")
    )
    c = cur.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("v"), F.lit(0).alias("g")
    )
    if bins == "auto":
        approx = (
            r.select("v").union(c.select("v"))
            .agg(F.approx_count_distinct("v").alias("d"))
            .collect()[0]["d"]
        )
        bins = auto_bins if approx > auto_distinct_threshold else None
    if bins is not None:
        mn, mx = r.agg(F.min("v"), F.max("v")).collect()[0]
        if mn is None or mx == mn:
            raise ValueError(
                f"ks_statistic(bins=...): reference '{col}' is empty or "
                "constant — binned grid undefined"
            )
        width = (float(mx) - float(mn)) / bins
        idx = F.least(
            F.greatest(
                F.floor((F.col("v") - F.lit(float(mn))) / F.lit(width)),
                F.lit(0),
            ),
            F.lit(bins - 1),
        ).cast("double")
        r = r.select(idx.alias("v"), "g")
        c = c.select(idx.alias("v"), "g")
    per_v = (
        r.union(c)
        .groupBy("v")
        .agg(
            F.sum("g").cast("long").alias("c_ref"),
            (F.count(F.lit(1)) - F.sum("g")).cast("long").alias("c_cur"),
        )
    )
    w = Window.partitionBy().orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    # integer cross-multiplication: |cum_ref·n_cur − cum_cur·n_ref| in
    # decimal(38,0) (exact up to 1e38 — counts can reach ~1e19 a side
    # before overflow) — the ECDF gap without any per-row division
    dec = "decimal(38,0)"
    gap = F.abs(
        F.sum("c_ref").over(w).cast(dec) * F.sum("c_cur").over(tot).cast(dec)
        - F.sum("c_cur").over(w).cast(dec) * F.sum("c_ref").over(tot).cast(dec)
    )
    ecdf = per_v.select(
        gap.alias("gap"),
        F.sum("c_ref").over(tot).alias("n_ref"),
        F.sum("c_cur").over(tot).alias("n_cur"),
    )
    # ungrouped agg: ALWAYS exactly one row — both-sides-empty yields
    # (NULL, 0, 0) instead of an empty frame, so .collect()[0] is safe;
    # an empty SIDE yields ks_stat NULL ("no statistic"), not an abort
    denom = F.max("n_ref").cast("double") * F.max("n_cur").cast("double")
    return ecdf.agg(
        F.when(
            denom > 0,
            F.round(F.max("gap").cast("double") / denom, round_digits),
        ).alias("ks_stat"),
        F.coalesce(F.max("n_ref"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).alias("n_cur"),
    )


def wasserstein_binned(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    n_buckets: int = 32,
    round_digits: int = 6,
) -> DataFrame:
    """Binned 1-D Wasserstein-1 distance (earth-mover) between the
    reference and current distributions of ``col``, as a 1-row frame
    (w1, w1_norm, n_ref, n_cur).

    W1 complements the suite's other drift statistics: PSI is
    bucket-local (insensitive to WHERE the mass moved), KS is the single
    worst ECDF gap (insensitive to HOW MUCH total mass moved) — W1 is
    the integral of the ECDF gap, i.e. the minimum total mass·distance
    to morph one distribution into the other, in the column's units.
    ``w1_norm`` divides by the reference range, giving a unit-free
    [0, 1] score comparable across columns.

    Semantics (engine-portable, no RNG): ``n_buckets`` equal-width bins
    over the REFERENCE min/max; current values outside the range clamp
    into the edge bins (their true distance is truncated at the grid
    edge — the standard binned-EMD convention, same clamping as
    [histogram_drift]). On the grid,
    ``W1 = Σ_k |F_ref(k) − F_cur(k)| · width`` over cumulative bin
    fractions. The sum is computed INTEGER-EXACT as
    ``Σ |cum_ref·n_cur − cum_cur·n_ref|`` in decimal(38,0) (the
    ks_statistic trick), with ONE double division at the end — identical
    on any engine/partitioning. Empty bins still carry the running
    cumulative gap, so the spine join is load-bearing, not cosmetic.

    Execution shape: one tiny min/max aggregation on the reference, one
    map-side-combined groupBy per side on the bin index (≤ n_buckets
    rows each), broadcast-joined to the n_buckets-row spine, one ordered
    window over n_buckets rows. Scan-bound at any scale; the window
    state is n_buckets longs.
    """
    spark = ref.sparkSession
    r = ref.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    c = cur.filter(F.col(col).isNotNull()).select(
        F.col(col).cast("double").alias("x")
    )
    mn, mx = r.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None or mx == mn:
        raise ValueError(
            f"wasserstein_binned: reference '{col}' is empty or constant "
            "— an equal-width grid is undefined"
        )
    mn, mx = float(mn), float(mx)
    width = (mx - mn) / n_buckets

    def counts(df: DataFrame, out: str) -> DataFrame:
        idx = F.least(
            F.greatest(
                F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
                F.lit(0),
            ),
            F.lit(n_buckets - 1),
        )
        return df.select(idx.alias("bucket")).groupBy("bucket").agg(
            F.count(F.lit(1)).alias(out)
        )

    spine = spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket")
    )
    joined = (
        spine.join(F.broadcast(counts(r, "n_ref")), "bucket", "left")
        .join(F.broadcast(counts(c, "n_cur")), "bucket", "left")
        .select(
            "bucket",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        )
    )
    return w1_table(joined, width, n_buckets, round_digits)


def w1_table(
    joined: DataFrame,
    width: float,
    n_buckets: int,
    round_digits: int = 6,
) -> DataFrame:
    """W1 arithmetic over a complete (bucket, n_ref, n_cur) spine frame —
    shared by the batch path (wasserstein_binned) and the streaming
    accumulator (streaming/ops.run_streaming_wasserstein), so the two
    can never drift in their double math (the psi_table pattern). Input
    is n_buckets rows; the ungrouped windows cost nothing at that size.
    """
    w = Window.partitionBy().orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy()
    dec = "decimal(38,0)"
    gap = F.abs(
        F.sum("n_ref").over(w).cast(dec) * F.sum("n_cur").over(tot).cast(dec)
        - F.sum("n_cur").over(w).cast(dec) * F.sum("n_ref").over(tot).cast(dec)
    )
    ecdf = joined.select(
        gap.alias("gap"),
        F.sum("n_ref").over(tot).alias("n_ref"),
        F.sum("n_cur").over(tot).alias("n_cur"),
    )
    denom = F.max("n_ref").cast("double") * F.max("n_cur").cast("double")
    ratio = F.sum("gap").cast("double") / denom
    return ecdf.agg(
        F.when(denom > 0, F.round(ratio * F.lit(width), round_digits)).alias(
            "w1"
        ),
        F.when(
            denom > 0, F.round(ratio / F.lit(float(n_buckets)), round_digits)
        ).alias("w1_norm"),
        F.coalesce(F.max("n_ref"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.max("n_cur"), F.lit(0)).alias("n_cur"),
    )


def groupwise_ks(
    df: DataFrame,
    group_col: str,
    value_col: str,
    bins: int = 32,
    round_digits: int = 6,
) -> DataFrame:
    """Which slice deviates most? Per-group binned KS statistic of each
    group's value distribution against its COMPLEMENT (everything else)
    — one row per group: (group, n_group, n_rest, ks_stat). The rollup
    form of [ks_statistic]: instead of one ref/cur pair the analyst
    names, every slice is tested at once and the output ranks the
    drifted ones — the first drill-down when a corpus-level monitor
    trips. Groups containing ALL rows (no complement) yield NULL.

    Same determinism contract as the binned KS: a fixed ``bins``-bucket
    grid over the GLOBAL min/max, integer cross-multiplied ECDF gaps in
    decimal(38,0), one double division per group at the end.

    Execution shape: one 2-scalar global min/max fetch, ONE
    map-side-combined groupBy on (group, bucket) — the only full-data
    shuffle — then everything runs on the |groups|·bins frame: a
    broadcast spine join, two windows partitioned by group, a final
    per-group max."""
    vals = df.filter(F.col(value_col).isNotNull()).select(
        F.col(group_col).alias("g"),
        F.col(value_col).cast("double").alias("x"),
    )
    mn, mx = vals.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None or mx == mn:
        raise ValueError(
            f"groupwise_ks: '{value_col}' is empty or constant — the "
            "binned grid is undefined"
        )
    mn, mx = float(mn), float(mx)
    width = (mx - mn) / bins
    idx = F.least(
        F.greatest(
            F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    cnt = persist(
        vals.select("g", idx.alias("bucket"))
        .groupBy("g", "bucket")
        .agg(F.count(F.lit(1)).alias("c_g"))
    )
    groups = cnt.select("g").distinct()
    totals = cnt.groupBy("bucket").agg(F.sum("c_g").alias("c_all"))
    spine = (
        groups.crossJoin(
            F.broadcast(
                df.sparkSession.range(bins).select(
                    F.col("id").cast("int").alias("bucket")
                )
            )
        )
        .join(cnt, ["g", "bucket"], "left")
        .join(F.broadcast(totals), "bucket", "left")
        .select(
            "g",
            "bucket",
            F.coalesce("c_g", F.lit(0)).alias("c_cur"),
            (
                F.coalesce("c_all", F.lit(0)) - F.coalesce("c_g", F.lit(0))
            ).alias("c_ref"),
        )
    )
    w = Window.partitionBy("g").orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = Window.partitionBy("g")
    dec = "decimal(38,0)"
    gap = F.abs(
        F.sum("c_ref").over(w).cast(dec) * F.sum("c_cur").over(tot).cast(dec)
        - F.sum("c_cur").over(w).cast(dec) * F.sum("c_ref").over(tot).cast(dec)
    )
    per_g = spine.select(
        "g",
        gap.alias("gap"),
        F.sum("c_cur").over(tot).alias("n_group"),
        F.sum("c_ref").over(tot).alias("n_rest"),
    ).groupBy("g").agg(
        F.max("gap").alias("__gap__"),
        F.max("n_group").alias("n_group"),
        F.max("n_rest").alias("n_rest"),
    )
    denom = F.col("n_group").cast("double") * F.col("n_rest").cast("double")
    return per_g.select(
        F.col("g").alias(group_col),
        "n_group",
        "n_rest",
        F.when(
            denom > 0,
            F.round(F.col("__gap__").cast("double") / denom, round_digits),
        ).alias("ks_stat"),
    )


def psi(
    ref: DataFrame, cur: DataFrame, col: str, n_buckets: int = 10,
    eps: float = 1e-6,
) -> float:
    """Total Population Stability Index (driver-side scalar)."""
    row = (
        histogram_drift(ref, cur, col, n_buckets, eps, round_digits=12)
        .agg(F.sum("psi_term"))
        .collect()[0]
    )
    return float(row[0])


def token_distribution_drift(
    ref: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
    round_digits: int = 6,
) -> DataFrame:
    """Token-distribution drift between two corpora: KL divergence both
    ways plus the symmetric Jensen–Shannon divergence over the unigram
    token distributions (shared whitespace token model, add-one/Laplace
    smoothing over the JOINT vocabulary so every term is finite).

    The text complement of the numeric drift gates (PSI/KS/chi2): "did
    the language itself shift between two training-data snapshots" —
    the standard corpus-mix monitor for LLM data refreshes.

    Returns ONE row: vocab_size, n_tokens_ref, n_tokens_cur, kl_ref_cur
    (= KL(P||Q)), kl_cur_ref, js_divergence (nats, rounded).

    Execution shape: explode tokens once per side, ONE map-side-combined
    groupBy per side onto the token (the big reduction: corpus → vocab),
    a full-outer join on token (vocab-sized, both sides already reduced),
    frame-total window sums, and a 1-row aggregate. No collect, no UDF,
    no per-row float division until the final vocab-sized projection —
    scan-bound at any corpus size; state is O(vocab), which grows
    sublinearly (Heaps' law) and shuffles as (token, long) pairs.
    """
    from topnotch_spark.functions.text import tokens

    def vocab_counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(F.explode(tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(out))
        )


    # Persisted (registry-scoped, checkpointable) because BOTH the
    # broadcast totals and the divergence sums consume it — without it
    # the explode+groupBy lineage runs twice.
    joined = persist(
        vocab_counts(ref, "n_ref")
        .join(vocab_counts(cur, "n_cur"), "token", "full_outer")
        .na.fill(0, ["n_ref", "n_cur"])
    )
    # Totals as a broadcast 1-row frame, NOT a partition-less window: a
    # global window would drag the whole vocab onto one partition, which
    # at web-corpus vocabulary sizes (10⁸+ tokens) is the exact
    # single-partition hazard this repo bans.
    totals = F.broadcast(
        joined.agg(
            F.count(F.lit(1)).alias("__vocab__"),
            F.sum("n_ref").alias("__tr__"),
            F.sum("n_cur").alias("__tc__"),
        )
    )
    joined = joined.crossJoin(totals)
    vocab = F.col("__vocab__")
    tot_ref = F.col("__tr__")
    tot_cur = F.col("__tc__")
    # Laplace add-one over the joint vocab: p,q > 0 for every token.
    p = (F.col("n_ref") + 1).cast("double") / (tot_ref + vocab).cast("double")
    q = (F.col("n_cur") + 1).cast("double") / (tot_cur + vocab).cast("double")
    m = (p + q) / F.lit(2.0)
    terms = joined.select(
        vocab.alias("vocab_size"),
        tot_ref.alias("n_tokens_ref"),
        tot_cur.alias("n_tokens_cur"),
        (p * F.log(p / q)).alias("kl_pq_term"),
        (q * F.log(q / p)).alias("kl_qp_term"),
        (F.lit(0.5) * p * F.log(p / m) + F.lit(0.5) * q * F.log(q / m)).alias(
            "js_term"
        ),
    )
    return terms.groupBy("vocab_size", "n_tokens_ref", "n_tokens_cur").agg(
        F.round(F.sum("kl_pq_term"), round_digits).alias("kl_ref_cur"),
        F.round(F.sum("kl_qp_term"), round_digits).alias("kl_cur_ref"),
        F.round(F.sum("js_term"), round_digits).alias("js_divergence"),
    )


def chi2_drift(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    round_digits: int = 6,
) -> DataFrame:
    """Chi-square two-sample homogeneity test for a CATEGORICAL column —
    the categorical complement of PSI/KS: did the category mix shift
    between the reference and current datasets? One row per category
    with both counts, shares, and the category's chi-square contribution
    ((O-E)²/E summed over both cells, expected counts under the pooled
    mix); sum(chi2_term) vs the chi-square critical value at k-1 dof is
    the caller's accept/reject.

    NULL categories are folded into the '__NULL__' bucket (a full-outer
    join on a raw NULL key would never match across sides). Two bounded
    groupBys (map-side combined, |categories| rows each), one outer
    join, frame-wide totals over k rows — scan-bound at any scale."""
    cat = F.coalesce(F.col(col).cast("string"), F.lit("__NULL__"))
    r = ref.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).alias("n_ref")
    )
    c = cur.groupBy(cat.alias("category")).agg(
        F.count(F.lit(1)).alias("n_cur")
    )
    joined = (
        r.join(c, "category", "full_outer").na.fill(0, ["n_ref", "n_cur"])
    )
    w = Window.partitionBy()
    nr = F.sum("n_ref").over(w).cast("double")
    nc = F.sum("n_cur").over(w).cast("double")
    row_total = (F.col("n_ref") + F.col("n_cur")).cast("double")
    grand = nr + nc
    e_ref = row_total * nr / grand
    e_cur = row_total * nc / grand
    term = F.when(
        (e_ref > 0) & (e_cur > 0),
        (F.col("n_ref") - e_ref) * (F.col("n_ref") - e_ref) / e_ref
        + (F.col("n_cur") - e_cur) * (F.col("n_cur") - e_cur) / e_cur,
    ).otherwise(F.lit(0.0))
    return joined.select(
        "category",
        "n_ref",
        "n_cur",
        F.round(F.col("n_ref") / nr, round_digits).alias("frac_ref"),
        F.round(F.col("n_cur") / nc, round_digits).alias("frac_cur"),
        F.round(term, round_digits).alias("chi2_term"),
    )


def mutual_information(
    df: DataFrame,
    col_a: str,
    col_b: str,
    round_digits: int = 6,
) -> DataFrame:
    """Mutual information between two CATEGORICAL columns, with the
    normalized form (NMI = MI / sqrt(H_a·H_b)) — the dependence screen
    chi-square complements: chi2 answers "are these independent", MI
    quantifies HOW MUCH knowing one tells you about the other (feature
    redundancy, leakage-between-columns checks). Nats, rounded.

    NULL categories fold into '__NULL__' (a value, same convention as
    chi2_drift). Degenerate single-category marginals give H = 0 and
    NMI = NULL.

    Execution shape: ONE groupBy on the (a, b) pair (map-side combined —
    the corpus collapses to |A|×|B| rows), marginals as two bounded
    groupBys over that joint table joined back broadcast, one 1-row
    aggregate. All counts are exact integers; ln runs on exact rationals
    and the sum is over ≤ |A|×|B| terms — rounding absorbs the ulps."""
    ca = F.coalesce(F.col(col_a).cast("string"), F.lit("__NULL__"))
    cb = F.coalesce(F.col(col_b).cast("string"), F.lit("__NULL__"))
    joint = (
        df.select(ca.alias("a"), cb.alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )

    joint = persist(joint)
    ma = joint.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    mb = joint.groupBy("b").agg(F.sum("c_ab").alias("c_b"))
    tot = F.broadcast(joint.agg(F.sum("c_ab").alias("n")))
    full = (
        joint.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(tot)
    )
    n = F.col("n").cast("double")
    p_ab = F.col("c_ab").cast("double") / n
    mi_term = p_ab * F.log(
        (F.col("n") * F.col("c_ab")).cast("double")
        / (F.col("c_a") * F.col("c_b")).cast("double")
    )
    g = full.agg(
        F.max("n").alias("__n__"),
        F.countDistinct("a").alias("n_cats_a"),
        F.countDistinct("b").alias("n_cats_b"),
        F.sum(mi_term).alias("__mi__"),
    )

    def entropy(marg: DataFrame, cnt: str) -> DataFrame:
        p = F.col(cnt).cast("double") / F.col("n").cast("double")
        return marg.crossJoin(tot).agg(
            F.sum(-p * F.log(p)).alias(f"__h_{cnt}__")
        )

    g = (
        g.crossJoin(F.broadcast(entropy(ma, "c_a")))
        .crossJoin(F.broadcast(entropy(mb, "c_b")))
    )
    denom = F.sqrt(F.col("__h_c_a__") * F.col("__h_c_b__"))
    return g.select(
        F.col("__n__").cast("bigint").alias("n"),
        "n_cats_a",
        "n_cats_b",
        F.round(F.col("__mi__"), round_digits).alias("mi_nats"),
        F.round(
            F.when(denom > 0, F.col("__mi__") / denom), round_digits
        ).alias("nmi"),
    )


def psi_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: str = "week",
    n_buckets: int = 10,
    eps: float = 1e-6,
    round_digits: int = 6,
) -> DataFrame:
    """Temporal drift trend: PSI of each time period's value
    distribution against the EARLIEST period — the monitoring query that
    turns the pairwise ref/cur drift check into a per-week time series
    ("when did the feed start drifting?").

    Returns one row per period: (period, n_rows, psi), psi computed
    over ``n_buckets`` equal-width bins of the GLOBAL [min, max] with
    the same eps-for-empty-bin convention as psi_table. Per-bin terms
    are rounded to micro-units and summed as integers, so the
    cross-bin float addition order cannot drift between engines.

    Execution shape: one bounds aggregate (2 scalars), ONE
    groupBy(period, bucket) over the data (map-side combined), then all
    remaining arithmetic on the |periods| x n_buckets count grid —
    broadcast-sized at any horizon. The reference period's counts join
    back by bucket (broadcast, n_buckets rows).

    The count grid is registered in the dedup persist registry (it
    feeds the reference slice, the per-period totals, and the PSI
    terms); consume inside ``dedup_scope()`` or call
    ``unpersist_intermediates()`` to release it (under a checkpoint dir
    the persist is an eager parquet spill)."""
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(ts_col).isNotNull()
    ).select(
        F.date_trunc(period, F.col(ts_col)).alias("period"),
        F.col(value_col).cast("double").alias("x"),
    )
    mn, mx = base.agg(F.min("x"), F.max("x")).collect()[0]
    if mn is None:
        raise ValueError(f"psi_trend: no non-null values in '{value_col}'")
    mn, mx = float(mn), float(mx)
    if mx == mn:
        raise ValueError(
            f"psi_trend: column '{value_col}' is constant — equal-width "
            "bucketing is undefined"
        )
    width = (mx - mn) / n_buckets

    idx = F.least(
        F.greatest(
            F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
            F.lit(0),
        ),
        F.lit(n_buckets - 1),
    )
    # PERSISTED: the |periods| x n_buckets count grid is broadcast-sized
    # but feeds four branches (ref-period collect, ref counts, period
    # spine, the grid join) — without the persist each branch re-scans
    # and re-aggregates the source. With it the source is read exactly
    # twice (bounds + counts), both with 2-column pruned scans.

    counts = persist(
        base.select("period", idx.alias("bucket"))
        .groupBy("period", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )

    ref_period = counts.agg(F.min("period")).collect()[0][0]
    ref = counts.filter(F.col("period") == F.lit(ref_period)).select(
        "bucket", F.col("n").alias("n_ref")
    )
    # total_ref as a 1-row bounds frame (NOT riding the per-bucket join:
    # a bucket absent from the reference would null the total and
    # silently drop that bucket's term from the sum)
    ref_totals = ref.agg(F.sum("n_ref").alias("total_ref"))

    spark = df.sparkSession
    periods = counts.select("period").distinct()
    spine = periods.crossJoin(
        F.broadcast(
            spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
        )
    )
    grid = (
        spine.join(counts, ["period", "bucket"], "left")
        .select("period", "bucket", F.coalesce("n", F.lit(0)).alias("n_cur"))
        .join(F.broadcast(ref), "bucket", "left")
        .crossJoin(F.broadcast(ref_totals))
        .select(
            "period",
            "bucket",
            "n_cur",
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
            "total_ref",
        )
    )
    total_cur = F.sum("n_cur").over(Window.partitionBy("period"))
    frac_r = F.col("n_ref") / F.col("total_ref")
    frac_c = F.col("n_cur") / total_cur
    p = F.when(frac_r == 0, F.lit(eps)).otherwise(frac_r)
    q = F.when(frac_c == 0, F.lit(eps)).otherwise(frac_c)
    term_micro = F.round((q - p) * F.log(q / p) * 1_000_000, 0).cast("long")
    return (
        grid.select(
            "period",
            F.col("n_cur").alias("n"),
            term_micro.alias("t_micro"),
        )
        .groupBy("period")
        .agg(
            F.sum("n").alias("n_rows"),
            F.round(F.sum("t_micro").cast("double") / 1_000_000, round_digits)
            .alias("psi"),
        )
    )


def benford_first_digit(
    df: DataFrame,
    value_col: str,
    int_scale: int = 100,
    round_digits: int = 6,
) -> DataFrame:
    """Benford's-law first-significant-digit audit of a positive numeric
    column — the classic fabricated-/synthetic-data and fraud screen
    (Nigrini): naturally occurring multi-magnitude amounts follow
    P(d) = log10(1 + 1/d); generated or truncated data usually doesn't.

    Returns EXACTLY nine rows (digit 1-9, zero-observation digits
    included): (digit, n, observed_p, expected_p, abs_dev), shares
    rounded to ``round_digits``. Gate on ``max(abs_dev)`` (or a
    mean-absolute-deviation threshold) with an assertion command.

    Determinism contract: the first digit is extracted WITHOUT
    float log10 — the value is scaled by ``int_scale`` (a power of 10,
    which cannot change the first SIGNIFICANT digit), rounded to a
    BIGINT, and the digit is the first character of the integer's
    decimal string — identical in any engine, no boundary-of-log10
    float hazards. Values that scale-round below 1 (and nulls,
    negatives, zeros) are excluded; ``int_scale`` must cover the
    fractional inputs' significant digits (100 = cents for money).
    Expected shares use ln on exact small rationals — IEEE-identical
    across engines at ``round_digits`` ≤ 6.

    Execution shape (100 TB): one projection + one map-side-combined
    groupBy over a NINE-row key space, then a broadcast join against a
    9-row literal digit frame. Nothing else."""
    import math

    if int_scale < 1 or 10 ** round(math.log10(int_scale)) != int_scale:
        raise ValueError(
            f"benford_first_digit: int_scale must be a power of 10, "
            f"got {int_scale}"
        )
    spark = df.sparkSession
    v = F.round(F.col(value_col) * int_scale).cast("bigint")
    counts = (
        df.select(v.alias("__v__"))
        .filter(F.col("__v__") >= 1)
        .select(
            F.substring(F.col("__v__").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    total = F.broadcast(counts.agg(F.sum("n").alias("__N__")))
    expected = F.round(
        F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit")), round_digits
    )
    return (
        digits.join(F.broadcast(counts), "digit", "left")
        .select("digit", F.coalesce(F.col("n"), F.lit(0)).alias("n"))
        .crossJoin(total)
        .select(
            "digit",
            "n",
            F.round(F.col("n") / F.col("__N__"), round_digits).alias(
                "observed_p"
            ),
            expected.alias("expected_p"),
            F.round(
                F.abs(
                    F.round(F.col("n") / F.col("__N__"), round_digits)
                    - expected
                ),
                round_digits,
            ).alias("abs_dev"),
        )
        .orderBy("digit")
    )


def token_rank_shift(
    ref: DataFrame,
    cur: DataFrame,
    text_col: str = "text",
    vocab_k: int = 200,
    k: int = 20,
) -> DataFrame:
    """Trending tokens between two corpus slices: which terms CLIMBED
    most in frequency RANK from ``ref`` to ``cur`` — the interpretable
    companion to :func:`token_distribution_drift` (that one says "the
    language shifted by X nats"; this one says "these are the words that
    did it"). The standard drill-down when a corpus-mix monitor trips.

    Per side: token counts (corpus → vocab reduction), TakeOrdered to
    the top ``vocab_k`` terms, row_number rank with the (count desc,
    token asc) total order. Sides full-outer join on token; a term
    outside a side's top list gets rank ``vocab_k + 1`` ("off the
    board") and count 0 FOR THAT BOARD. ``rank_shift = rank_ref −
    rank_cur`` (positive = climbed). Output: top ``k`` climbers
    (shift desc, token asc), columns (token, n_ref, n_cur, rank_ref,
    rank_cur, rank_shift, rank) — all integers, bit-reproducible.

    Execution shape (100 TB): one explode + map-side-combined
    groupBy(token) per side; every later frame is ≤ 2·vocab_k rows
    (TakeOrdered before any partition-less window, the plan-guard
    rule)."""
    from pyspark.sql import Window as W

    def board(df: DataFrame, n_alias: str, r_alias: str) -> DataFrame:
        from topnotch_spark.functions.text import tokens as _tokens

        counts = (
            df.select(F.explode(_tokens(text_col)).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(n_alias))
        )
        return (
            counts.orderBy(F.col(n_alias).desc(), F.col("token").asc())
            .limit(vocab_k)
            .withColumn(
                r_alias,
                F.row_number().over(
                    W.orderBy(F.col(n_alias).desc(), F.col("token").asc())
                ),
            )
        )
    a = board(ref, "n_ref", "rank_ref")
    b = board(cur, "n_cur", "rank_cur")
    off = vocab_k + 1
    joined = a.join(b, "token", "full_outer").select(
        "token",
        F.coalesce(F.col("n_ref"), F.lit(0)).alias("n_ref"),
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        F.coalesce(F.col("rank_ref"), F.lit(off)).alias("rank_ref"),
        F.coalesce(F.col("rank_cur"), F.lit(off)).alias("rank_cur"),
    )
    shifted = joined.withColumn(
        "rank_shift", F.col("rank_ref") - F.col("rank_cur")
    )
    return (
        shifted.orderBy(F.col("rank_shift").desc(), F.col("token").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                W.orderBy(
                    F.col("rank_shift").desc(), F.col("token").asc()
                )
            ),
        )
    )
