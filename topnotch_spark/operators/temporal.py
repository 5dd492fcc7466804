"""Temporal join operators Spark lacks natively: as-of join and
bounded range self-join (beyond-reference extensions, SURVEY.md §7E).

Both are built from DataFrame primitives so Catalyst/AQE keep owning the
physical strategy — no Python in the hot path.

**As-of join** (``asof_join``): for each left row, the latest right row
with ``right_ts <= left_ts`` sharing the join keys. Implemented the
merge-sorted way: tag and union both inputs, then one window pass
(partition by keys, order by ts with right-before-left tiebreak) carries
the most recent right payload forward via ``last(..., ignorenulls)``.
Cost: ONE shuffle on the keys over |L|+|R| rows — no range-condition
join, no per-row probing, no skew beyond what the key distribution
already has. This is the textbook distributed as-of shape (financial
tick joins at billions of rows use exactly this).

**Range self-join** (``range_join_pairs``): all pairs of rows sharing
keys within a time tolerance. Equi-join on coarse time buckets (bucket
width = tolerance) restricted to adjacent buckets, then the exact
|dt| <= tolerance filter — the bucketing bounds the join fan-out to
pairs at most one bucket apart instead of |group|².
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from topnotch_spark.runtime import persist


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    right_cols: list[str],
    suffix: str = "_right",
    tolerance_seconds: int | None = None,
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: each left row gains the payload of the
    ``direction``-matched right row sharing the keys (equality matches
    in every direction — pandas merge_asof semantics):

    - ``backward`` (default): latest right with ``right_ts <= left_ts``
    - ``forward``: earliest right with ``right_ts >= left_ts``
    - ``nearest``: whichever of the two is closer in time (exact ties
      resolve to the backward match)

    ``right_cols``: right payload columns to carry (emitted with
    ``suffix``; the matched timestamp is ``<right_ts><suffix>``).
    ``tolerance_seconds``: matches farther than the tolerance are nulled
    (for ``nearest``, BEFORE choosing the closer side).
    Right-side ties on (keys, ts) resolve arbitrarily — pre-deduplicate
    if that matters.

    Execution shape is unchanged by direction: tag + union + window
    carry over ONE shuffle on the keys; ``nearest`` adds a second
    window ORDER (reusing the same exchange) for the forward carry.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(f"unknown asof direction: {direction}")
    payload = F.struct(
        F.col(right_ts).alias("__ts__"), *[F.col(c) for c in right_cols]
    )
    r = right.select(
        *[F.col(c) for c in on],
        F.col(right_ts).alias("__evt_ts__"),
        F.lit(0).alias("__side__"),
        payload.alias("__payload__"),
    )
    l_cols = left.columns
    l = left.select(
        "*",
        F.col(left_ts).alias("__evt_ts__"),
        F.lit(1).alias("__side__"),
        F.lit(None).cast(r.schema["__payload__"].dataType).alias("__payload__"),
    )
    unioned = l.unionByName(r, allowMissingColumns=True)
    # backward: right rows sort BEFORE left at equal ts (side asc) so an
    # equal-ts right row is inside the trailing frame; forward mirrors
    # with side desc so it is inside the leading frame.
    w_back = (
        Window.partitionBy(*on)
        .orderBy(F.col("__evt_ts__").asc(), F.col("__side__").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_fwd = (
        Window.partitionBy(*on)
        .orderBy(F.col("__evt_ts__").asc(), F.col("__side__").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = unioned
    matches = {}
    if direction in ("backward", "nearest"):
        carried = carried.withColumn(
            "__m_back__", F.last("__payload__", ignorenulls=True).over(w_back)
        )
        matches["__m_back__"] = True
    if direction in ("forward", "nearest"):
        carried = carried.withColumn(
            "__m_fwd__", F.first("__payload__", ignorenulls=True).over(w_fwd)
        )
        matches["__m_fwd__"] = True
    carried = carried.filter(F.col("__side__") == 1)

    left_us = F.unix_micros(F.col(left_ts).cast("timestamp"))

    def _tol(col_name: str, signed_gap) -> None:
        if tolerance_seconds is None:
            return
        in_tol = signed_gap <= tolerance_seconds * 1_000_000
        nonlocal carried
        carried = carried.withColumn(
            col_name, F.when(in_tol, F.col(col_name))
        )

    if "__m_back__" in matches:
        _tol(
            "__m_back__",
            left_us
            - F.unix_micros(F.col("__m_back__.__ts__").cast("timestamp")),
        )
    if "__m_fwd__" in matches:
        _tol(
            "__m_fwd__",
            F.unix_micros(F.col("__m_fwd__.__ts__").cast("timestamp"))
            - left_us,
        )
    if direction == "backward":
        match = F.col("__m_back__")
    elif direction == "forward":
        match = F.col("__m_fwd__")
    else:
        back_gap = left_us - F.unix_micros(
            F.col("__m_back__.__ts__").cast("timestamp")
        )
        fwd_gap = (
            F.unix_micros(F.col("__m_fwd__.__ts__").cast("timestamp")) - left_us
        )
        match = (
            F.when(F.col("__m_back__").isNull(), F.col("__m_fwd__"))
            .when(F.col("__m_fwd__").isNull(), F.col("__m_back__"))
            .when(back_gap <= fwd_gap, F.col("__m_back__"))
            .otherwise(F.col("__m_fwd__"))
        )
    carried = carried.withColumn("__match__", match)
    out = carried.select(
        *l_cols,
        F.col("__match__.__ts__").alias(f"{right_ts}{suffix}"),
        *[F.col(f"__match__.{c}").alias(f"{c}{suffix}") for c in right_cols],
    )
    return out


def range_join_pairs(
    df: DataFrame,
    on: list[str],
    ts_col: str,
    id_col: str,
    tolerance_seconds: int,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """All ordered pairs (a, b) sharing ``on`` keys with
    ``0 < ts_b - ts_a <= tolerance`` — e.g. "events of the same user
    within 60s". Banding on tolerance-width buckets bounds fan-out: a
    qualifying pair is always in the same or adjacent bucket, so each row
    joins at most two buckets instead of the whole group.

    Pairs are ordered by (ts, id) to make (a, b) deterministic; output is
    one row per pair: keys, a/b ids, a/b timestamps, dt_seconds.
    """
    keep = keep_cols or []
    # NTZ-tolerant (see throttle_dedup)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    tol_us = tolerance_seconds * 1_000_000
    base = df.select(
        *[F.col(c) for c in on],
        F.col(id_col).alias("__id__"),
        us.alias("__us__"),
        *[F.col(c) for c in keep],
    )
    # each left row probes its own bucket and the next one
    a = base.select(
        *on,
        F.col("__id__").alias("id_a"),
        F.col("__us__").alias("us_a"),
        *[F.col(c).alias(f"{c}_a") for c in keep],
        F.explode(
            F.array(
                # floor, not cast-truncation: negative epoch micros
                # (pre-1970 timestamps) must bucket consistently or
                # adjacent-bucket probing silently drops pairs.
                F.floor(F.col("__us__") / tol_us).cast("bigint"),
                F.floor(F.col("__us__") / tol_us).cast("bigint") + 1,
            )
        ).alias("__bucket__"),
    )
    b = base.select(
        *on,
        F.col("__id__").alias("id_b"),
        F.col("__us__").alias("us_b"),
        *[F.col(c).alias(f"{c}_b") for c in keep],
        F.floor(F.col("__us__") / tol_us).cast("bigint").alias("__bucket__"),
    )
    dt = F.col("us_b") - F.col("us_a")
    pair_order = (F.col("us_a") < F.col("us_b")) | (
        (F.col("us_a") == F.col("us_b")) & (F.col("id_a") < F.col("id_b"))
    )
    return (
        a.join(b, [*on, "__bucket__"])
        .filter(pair_order & (dt <= tol_us))
        .select(
            *on,
            "id_a",
            "id_b",
            F.timestamp_micros(F.col("us_a")).alias(f"{ts_col}_a"),
            F.timestamp_micros(F.col("us_b")).alias(f"{ts_col}_b"),
            (dt / 1_000_000.0).alias("dt_seconds"),
            *[F.col(f"{c}_a") for c in keep],
            *[F.col(f"{c}_b") for c in keep],
        )
    )


def latest_per_key(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Keep the most recent row per key (SCD-style compaction /
    "current state" view): row_number over (ts desc, tiebreak desc) = 1.
    One shuffle on the key columns; the deterministic tiebreak makes the
    result engine-stable when timestamps collide. At scale this is the
    standard log-compaction read — pre-bucketing the input on the key
    columns deletes the exchange entirely (sources/bucketing.py)."""
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).desc(), F.col(tiebreak_col).desc()
    )
    return (
        df.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )


def throttle_dedup(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
    min_gap_seconds: int,
) -> DataFrame:
    """Gap-based temporal dedup: flag a row as kept iff the immediately
    preceding row with the same keys is more than ``min_gap_seconds``
    older (the first row per key is always kept). The classic
    bot/duplicate-fire screen over clickstreams ("drop repeat events
    inside N seconds").

    Semantics note: the gap is measured to the PREVIOUS event, kept or
    not — that makes it one lag() window pass (one shuffle on the keys,
    SQL-expressible, oracle-exact). True throttling relative to the last
    *kept* event is a sequential per-key scan (applyInPandasWithState in
    streaming; a session_window variant in batch) and is deliberately a
    different operator.

    Output: input columns + gap_seconds (null on the first row per key)
    + ``kept``. One window pass, no driver collection; state per row is
    a single lag value, so the pass is scan-bound at any scale.
    """
    w = Window.partitionBy(*key_cols).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    # cast("timestamp") makes TIMESTAMP_NTZ inputs (e.g. zone-less
    # parquet read through the generic plan path) acceptable to
    # unix_micros; it is a no-op on already-LTZ columns
    ts_us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    prev_us = F.lag(ts_us).over(w)
    gap_us = ts_us - prev_us
    return df.select(
        "*",
        F.round(gap_us / 1_000_000.0, 6).alias("gap_seconds"),
        (prev_us.isNull() | (gap_us > min_gap_seconds * 1_000_000)).alias(
            "kept"
        ),
    )


def transition_counts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    state_col: str,
) -> DataFrame:
    """First-order transition (bigram) counts over per-key ordered event
    sequences: for each key, order by (ts, tiebreak) and count
    (previous state -> state) pairs across all keys. The training-data
    flavor of sequence mining — the output is the Markov transition
    matrix of the event stream (session-flow analysis, anomalous-flow
    screens, next-event priors).

    Execution shape: one lag() window pass (shuffle on the key) + one
    groupBy over the bounded (state x state) pair space — partial
    aggregation map-side, so the shuffled agg input is at most
    |states|^2 rows per task regardless of input size."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = df.select(
        F.lag(F.col(state_col)).over(w).alias("prev_state"),
        F.col(state_col).alias("next_state"),
    ).filter(F.col("prev_state").isNotNull())
    return pairs.groupBy("prev_state", "next_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )


def sequence_likelihood(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    state_col: str,
    k: float = 1.0,
    round_digits: int = 4,
) -> DataFrame:
    """Per-key sequence likelihood under the corpus's own first-order
    Markov model: score every key's ordered event sequence with the
    add-k-smoothed transition probabilities learned from ALL keys —
    (key, n_transitions, avg_neg_logprob). The behavioral-anomaly
    screen [transition_counts] cannot make alone: the matrix says which
    transitions are rare, this says WHICH KEYS keep taking them (bot
    sessions, broken clients, fraud flows score high while every
    individual event looks normal). The event-stream sibling of
    textqc.bigram_logprob, same smoothing and determinism contract:
    P(b|a) = (c(a→b) + k) / (c(a·) + k·|states|).

    Keys with fewer than two events survive with 0 transitions and a
    NULL score. Execution shape: ONE lag() window pass (the per-key
    shuffle) persisted — it feeds the transition matrix, the row-count
    prior, and the scoring join; the model is the bounded |states|²
    matrix broadcast back; one final groupBy(key)."""
    if k <= 0:
        raise ValueError(f"sequence_likelihood: k must be > 0, got {k}")
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    pairs = persist(
        df.select(
            F.col(key_col).alias("__k__"),
            F.lag(F.col(state_col)).over(w).alias("__prev__"),
            F.col(state_col).alias("__next__"),
        )
    )
    trans = pairs.filter(F.col("__prev__").isNotNull()).groupBy(
        "__prev__", "__next__"
    ).agg(F.count(F.lit(1)).alias("__c2__"))
    prior = pairs.filter(F.col("__prev__").isNotNull()).groupBy(
        "__prev__"
    ).agg(F.count(F.lit(1)).alias("__c1__"))
    # NULL states are excluded from the vocabulary |states|: a NULL
    # symbol can never score anyway (the transition joins are
    # null-unsafe in both engines), and DuckDB's count(DISTINCT next)
    # oracle skips NULLs — counting a NULL row here would silently
    # shift every smoothed probability on nullable state columns.
    nstates = (
        pairs.filter(F.col("__next__").isNotNull())
        .select(F.col("__next__").alias("__s__"))
        .distinct()
        .agg(F.count(F.lit(1)).alias("__V__"))
    )
    lp = (
        trans.join(F.broadcast(prior), "__prev__")
        .crossJoin(F.broadcast(nstates))
        .select(
            "__prev__",
            "__next__",
            F.log(
                (F.col("__c2__") + F.lit(float(k)))
                / (F.col("__c1__") + F.lit(float(k)) * F.col("__V__"))
            ).alias("__lp__"),
        )
    )
    scored = (
        pairs.filter(F.col("__prev__").isNotNull())
        .join(F.broadcast(lp), ["__prev__", "__next__"])
        .groupBy("__k__")
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.round(F.avg(-F.col("__lp__")), round_digits).alias(
                "avg_neg_logprob"
            ),
        )
    )
    return (
        pairs.select("__k__")
        .distinct()
        .join(scored, "__k__", "left")
        .select(
            F.col("__k__").alias(key_col),
            F.coalesce("n_transitions", F.lit(0).cast("long")).alias(
                "n_transitions"
            ),
            "avg_neg_logprob",
        )
    )


def cusum_changepoints(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    value_col: str,
    drift_k: float = 0.5,
    threshold_h: float = 5.0,
    decimals: int = 3,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key CUSUM change-point detection (Page 1954): accumulate
    deviations from the key's own mean and alarm when the cumulative
    drift exceeds ``threshold_h`` — the mean-SHIFT detector the rolling
    z-score cannot make (a z-score flags single spikes; CUSUM flags a
    sustained small shift long before any point is individually
    anomalous). Two-sided: upward and downward statistics.

    The textbook recursion ``S_t = max(0, S_{t−1} + (x_t − μ − k))`` is
    not a window function, but it unrolls exactly to
    ``S_t = cumsum(y) − min-so-far(cumsum(y))`` — two plain window
    passes. Everything runs in integers: values scale to 10^decimals,
    and the per-key mean μ is kept in NUMERATOR form (multiply the
    recursion through by the key's row count n, in decimal(38,0)), so
    no division happens until the final report — bit-exact on any
    engine.

    Emits one row per key: (key, n_points, n_up_alarms, n_down_alarms,
    max_stat, first_alarm_ts) — max_stat in value units (the worst
    cumulative drift), NULL first_alarm_ts when nothing alarmed.
    ``drift_k`` is the slack per observation and ``threshold_h`` the
    alarm level, both in VALUE units (classic tuning: k = δ/2 for a
    target shift δ, h ≈ 4-5 σ).

    Execution shape: one per-key aggregate joined back (broadcast), two
    ordered window passes on the key shuffle, one final groupBy(key)."""
    if decimals < 0:
        raise ValueError(f"cusum_changepoints: decimals must be >= 0")
    scale = 10 ** decimals
    k_s = round(float(drift_k) * scale)
    h_s = round(float(threshold_h) * scale)
    dec = "decimal(38,0)"
    base = persist(
        df.select(
            F.col(key_col).alias("__k__"),
            F.col(ts_col).alias("__ts__"),
            F.col(tiebreak_col).alias("__tb__"),
            F.round(F.col(value_col).cast("double") * F.lit(float(scale)), 0)
            .cast("long")
            .alias("__v__"),
        ).filter(F.col("__v__").isNotNull())
    )
    stats = base.groupBy("__k__").agg(
        F.count(F.lit(1)).alias("__n__"), F.sum("__v__").alias("__sv__")
    )
    j = base.join(F.broadcast(stats), "__k__")
    # numerator-form deviation: n·(v − μ − k) = n·v − Σv − n·k
    y_up = (
        F.col("__n__").cast(dec) * F.col("__v__").cast(dec)
        - F.col("__sv__").cast(dec)
        - F.col("__n__").cast(dec) * F.lit(k_s).cast(dec)
    )
    y_dn = (
        F.col("__sv__").cast(dec)
        - F.col("__n__").cast(dec) * F.col("__v__").cast(dec)
        - F.col("__n__").cast(dec) * F.lit(k_s).cast(dec)
    )
    w = Window.partitionBy("__k__").orderBy(
        F.col("__ts__").asc(), F.col("__tb__").asc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cums = j.select(
        "__k__",
        "__ts__",
        "__tb__",
        "__n__",
        F.sum(y_up).over(w).alias("__cu__"),
        F.sum(y_dn).over(w).alias("__cd__"),
    )
    scored = cums.select(
        "__k__",
        "__ts__",
        "__n__",
        (
            F.col("__cu__")
            - F.least(F.min("__cu__").over(w), F.lit(0).cast(dec))
        ).alias("__s_up__"),
        (
            F.col("__cd__")
            - F.least(F.min("__cd__").over(w), F.lit(0).cast(dec))
        ).alias("__s_dn__"),
    )
    lim = F.col("__n__").cast(dec) * F.lit(h_s).cast(dec)
    alarmed_up = F.col("__s_up__") > lim
    alarmed_dn = F.col("__s_dn__") > lim
    denom = F.max("__n__").cast("double") * F.lit(float(scale))
    return scored.groupBy(F.col("__k__").alias(key_col)).agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(F.when(alarmed_up, 1).otherwise(0)).alias("n_up_alarms"),
        F.sum(F.when(alarmed_dn, 1).otherwise(0)).alias("n_down_alarms"),
        F.round(
            F.greatest(F.max("__s_up__"), F.max("__s_dn__")).cast("double")
            / denom,
            round_digits,
        ).alias("max_stat"),
        F.min(
            F.when(alarmed_up | alarmed_dn, F.col("__ts__"))
        ).alias("first_alarm_ts"),
    )


def frequent_paths(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    state_col: str,
    n_steps: int = 3,
    k: int = 20,
) -> DataFrame:
    """Top-k frequent ``n_steps``-long consecutive state paths over the
    per-key ordered event stream — the n-gram generalization of
    :func:`transition_counts` (that operator is this with
    ``n_steps=2``, ungrouped). The session-flow mining primitive:
    "which 3-step journeys dominate", "how many distinct users walk
    error→retry→purchase". Windows are OVERLAPPING (every consecutive
    run of ``n_steps`` events counts), the standard n-gram convention.

    Output: (path — states joined by ``' > '``, n_occurrences, n_keys —
    distinct keys that walk the path at least once, rank), top-k by
    (n_occurrences desc, path asc) — a total order, so ties are
    deterministic.

    Execution shape (100 TB): ONE window pass (shuffle on the key — the
    same shuffle transition_counts pays) materializing ``n_steps - 1``
    lead() columns, then a groupBy over the path space — bounded by
    |states|^n_steps, so partial aggregation collapses each task's
    output to at most that many rows regardless of input size; the
    distinct-key count rides the same groupBy via count(DISTINCT) over
    (path, key) — skew-bounded because paths are category-sized. Top-k
    is a TakeOrdered over the aggregated frame."""
    if n_steps < 2:
        raise ValueError("frequent_paths: n_steps must be >= 2")
    w = Window.partitionBy(key_col).orderBy(
        F.col(ts_col).asc(), F.col(tiebreak_col).asc()
    )
    steps = [F.col(state_col).alias("__s0__")] + [
        F.lead(F.col(state_col), i).over(w).alias(f"__s{i}__")
        for i in range(1, n_steps)
    ]
    # every step non-null: the last lead() being null means the run fell
    # off the partition end, and a NULL state value anywhere must not
    # produce a silently-shortened concat_ws path
    cond = F.lit(True)
    for i in range(n_steps):
        cond = cond & F.col(f"__s{i}__").isNotNull()
    seq = df.select(F.col(key_col).alias("__k__"), *steps).filter(cond)
    path = F.concat_ws(
        " > ", *[F.col(f"__s{i}__") for i in range(n_steps)]
    ).alias("path")
    agg = (
        seq.select("__k__", path)
        .groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("__k__").alias("n_keys"),
        )
    )
    # TakeOrdered(k) FIRST, then rank the k survivors: the global
    # row_number window only ever sees k rows (the bpe_top_merges
    # pattern — a partition-less window over the whole path space would
    # be a single-task sort at scale)
    return (
        agg.orderBy(F.col("n_occurrences").desc(), F.col("path").asc())
        .limit(k)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.orderBy(
                    F.col("n_occurrences").desc(), F.col("path").asc()
                )
            ),
        )
        .select("path", "n_occurrences", "n_keys", "rank")
    )


def resample_timeseries(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    bucket: str = "1 day",
    round_digits: int = 6,
) -> DataFrame:
    """Gap-filled resampling: bucket events to a fixed grid and emit a
    row for EVERY (group, bucket) — including empty ones (n_events=0,
    sum_value=0) — so downstream window math (moving averages, gap
    detection) never trips over missing rows.

    Execution shape: ONE groupBy(group, bucket) over the scan; the
    aggregated frame (≪ input) is persisted — registered in the shared
    intermediates registry, so the plan engine frees it per run and
    ``dedup_scope``/``unpersist_intermediates`` work for direct callers
    — and everything else (min/max bounds, distinct groups, the dense
    spine) derives from it, so the raw data is scanned once. Persist
    keeps lineage (unlike a local checkpoint), so losing a cached block
    on a real cluster recomputes instead of failing the job.
    Scan-bound at any scale."""
    win = F.window(F.col(ts_col), bucket)
    per = (
        df.groupBy(win.alias("w"), F.col(group_col))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(value_col), round_digits).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            group_col,
            "n_events",
            "sum_value",
        )
    )
    per = persist(per)
    bounds = per.agg(
        F.min("bucket_start").alias("mn"), F.max("bucket_start").alias("mx")
    ).collect()[0]
    if bounds["mn"] is None:
        return per  # empty input: nothing to fill
    spark = df.sparkSession
    groups = per.select(F.col(group_col)).distinct()
    spine = groups.crossJoin(
        F.broadcast(
            spark.range(1).select(
                F.explode(
                    F.sequence(
                        F.lit(bounds["mn"]),
                        F.lit(bounds["mx"]),
                        F.expr(f"INTERVAL {bucket}"),
                    )
                ).alias("bucket_start")
            )
        )
    )
    return spine.join(per, ["bucket_start", group_col], "left").select(
        "bucket_start",
        group_col,
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        F.coalesce("sum_value", F.lit(0.0)).alias("sum_value"),
    )


def funnel_stages(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    state_col: str,
    stages: list[str],
) -> DataFrame:
    """Ordered conversion funnel: for each stage i, count the users who
    performed stages[0..i] in temporal order (each stage strictly after
    the previous one's first qualifying event). The product-analytics
    staple (view -> click -> purchase), done with aggregates and tiny
    joins — no per-user sequence collection.

    Execution shape: stage 0 is one filtered groupBy(user) min(ts); each
    later stage joins the event scan (filtered to that stage's type —
    predicate pushed to the parquet scan) against the previous stage's
    per-user frame (n_users rows, ≪ events, persisted since it feeds
    both its count and the next stage) and takes min(ts) after it. k
    stages cost k filtered scans + k user-keyed joins of
    aggregate-sized frames; per-user state is one timestamp per stage.
    Fully lazy — the result is a union of k one-row aggregates, nothing
    counted on the driver. Output: (stage_idx, stage, n_users),
    n_users non-increasing.
    """
    if not stages:
        raise ValueError("funnel_stages: stages must be non-empty")
    prev = persist(
        df.filter(F.col(state_col) == stages[0])
        .groupBy(F.col(user_col).alias("__u__"))
        .agg(F.min(ts_col).alias("__t__"))
    )
    stage_counts = [
        prev.agg(
            F.lit(0).alias("stage_idx"),
            F.lit(stages[0]).alias("stage"),
            F.count(F.lit(1)).alias("n_users"),
        )
    ]
    for i, stage in enumerate(stages[1:], start=1):
        prev = persist(
            df.filter(F.col(state_col) == stage)
            .join(
                prev,
                (F.col(user_col) == F.col("__u__"))
                & (F.col(ts_col) > F.col("__t__")),
            )
            .groupBy("__u__")
            .agg(F.min(ts_col).alias("__t__"))
        )
        stage_counts.append(
            prev.agg(
                F.lit(i).alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count(F.lit(1)).alias("n_users"),
            )
        )
    out = stage_counts[0]
    for frame in stage_counts[1:]:
        out = out.unionByName(frame)
    return out


def retention_cohorts(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Classic cohort-retention rollup: cohort = ISO week of each key's
    first event; for every (cohort_week, weeks_since_cohort) cell, how
    many distinct keys were active and what share of the cohort that is.

    Execution shape: ONE groupBy(key) for first-seen (map-side partial
    min), broadcast back to the events (cohort table is |keys| rows —
    broadcastable for dimension-sized key spaces; for billions of keys
    Spark falls back to a sort-merge join on the same single key shuffle),
    then ONE groupBy(cohort_week, weeks_since) with a distinct-count.
    Week arithmetic stays in integer day-space (no float date math).

    The 2-column (key, ts) projection is registered in the dedup persist
    registry — it feeds the first-seen aggregate, the cohort join, the
    cohort-size aggregate, and the cell aggregate (4 source scans
    without it); consume inside ``dedup_scope()`` or call
    ``unpersist_intermediates()`` to release the storage."""
    df = persist(df.select(F.col(key_col), F.col(ts_col)))
    first = df.groupBy(key_col).agg(F.min(ts_col).alias("__first_ts__"))
    first = first.select(
        key_col,
        F.date_trunc("week", F.col("__first_ts__")).cast("date").alias(
            "cohort_week"
        ),
    )
    joined = df.join(first, key_col).select(
        F.col(key_col),
        F.col("cohort_week"),
        F.floor(
            F.datediff(F.col(ts_col).cast("date"), F.col("cohort_week")) / 7
        ).cast("bigint").alias("weeks_since"),
    )
    cohort_sizes = joined.filter(F.col("weeks_since") == 0).groupBy(
        "cohort_week"
    ).agg(F.countDistinct(key_col).alias("cohort_size"))
    cells = joined.groupBy("cohort_week", "weeks_since").agg(
        F.countDistinct(key_col).alias("n_active")
    )
    return cells.join(F.broadcast(cohort_sizes), "cohort_week").select(
        "cohort_week",
        "weeks_since",
        "n_active",
        "cohort_size",
        F.round(
            F.col("n_active") / F.col("cohort_size").cast("double"), round_digits
        ).alias("retention"),
    )


def rolling_window_agg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_seconds: int = 7 * 86400,
    decimals: int | None = None,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Trailing time-range rolling aggregate per key: for every event,
    count/sum/avg of `value_col` over the preceding `window_seconds`
    (inclusive of the current row) — the moving-average / rolling-volume
    primitive for per-entity time series.

    ONE window pass partitioned by key, RANGE-framed over integer epoch
    MICROSECONDS (`unix_micros`), so tie handling is exact and
    engine-independent: peers at the same timestamp are all in-frame
    regardless of physical order, which is what makes the result
    deterministic (and oracle-reproducible) without a tiebreak column.
    State per key is the in-frame buffer — bounded by event rate ×
    window length, the same bound a streaming watermark would give.

    ``decimals``: when the value column is fixed-point (currency, 2dp
    metrics), pass its decimal count and the windowed sum runs over
    SCALED INTEGERS — exact, overflow-safe to ~9e18/scale, and
    independent of each engine's frame-summation order (double sums over
    large frames differ by ulps between Spark's incremental pass and an
    oracle's segment tree, which a value-hash gate sees). The avg is a
    single division of the exact sum, so it is bit-identical too."""
    # cast normalizes TIMESTAMP_NTZ (raw parquet reads) to the LTZ type
    # unix_micros requires; a same-type cast is a Catalyst no-op
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.unix_micros(F.col(ts_col).cast("timestamp")))
        .rangeBetween(-window_seconds * 1_000_000, 0)
    )
    n = F.count(F.col(value_col)).over(w)
    if decimals is not None:
        scale = 10 ** decimals
        cents = F.round(F.col(value_col) * scale).cast("long")
        s = F.sum(cents).over(w) / F.lit(float(scale))
    else:
        s = F.sum(F.col(value_col)).over(w)
    return df.select(
        *df.columns,
        n.alias("roll_n"),
        F.round(s, round_digits).alias("roll_sum"),
        F.round(s / n.cast("double"), round_digits).alias("roll_avg"),
    )


def trend_per_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    decimals: int = 2,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key least-squares linear trend of a fixed-point metric over
    time (slope in value-units/day, intercept at epoch day 0, R²) — the
    monitoring primitive behind "which users/sources are trending
    up/down".

    ONE groupBy(key) carrying five sums. Determinism trick: x is the
    integer epoch-day and y the integer scaled value (``decimals``), so
    every sum is EXACT integer arithmetic (no float summation-order
    drift between engines — the usual regr_slope cancellation noise);
    the only floating-point steps are the final divisions, which are
    bit-identical everywhere. Magnitude check at the defaults: epoch-day
    ~2·10⁴, cents ~10⁷ ⇒ n·Σxy needs ~n²·2·10¹¹ — safe in int64 up to
    ~10³ rows/key per 10¹¹-unit budget; beyond that, center x per key
    first. Constant-x groups (single day) get NULL slope/intercept/R²."""
    scale = 10 ** decimals
    x = F.unix_date(F.col(ts_col).cast("timestamp").cast("date")).cast("long")
    y = F.round(F.col(value_col) * scale).cast("long")
    g = df.select(F.col(key_col), x.alias("__x__"), y.alias("__y__")).groupBy(
        key_col
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__x__").alias("sx"),
        F.sum("__y__").alias("sy"),
        F.sum(F.col("__x__") * F.col("__y__")).alias("sxy"),
        F.sum(F.col("__x__") * F.col("__x__")).alias("sxx"),
        F.sum(F.col("__y__") * F.col("__y__")).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den_x = (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ).cast("double")
    den_y = (
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    ).cast("double")
    # try_divide: ANSI mode raises on /0 even under a later when() guard
    # (the projection evaluates eagerly); NULL here == the guard's intent
    slope_cents = F.try_divide(num, den_x)  # cents per day
    intercept_cents = (F.col("sy") - slope_cents * F.col("sx")) / F.col("n")
    r2 = F.try_divide(num * num, den_x * den_y)
    nz = F.col("__denx__") != 0
    return g.select(
        F.col(key_col),
        F.col("n").cast("bigint").alias("n_points"),
        den_x.alias("__denx__"),
        den_y.alias("__deny__"),
        slope_cents.alias("__s__"),
        intercept_cents.alias("__i__"),
        r2.alias("__r2__"),
    ).select(
        key_col,
        "n_points",
        F.round(F.when(nz, F.col("__s__") / scale), round_digits).alias(
            "slope_per_day"
        ),
        F.round(F.when(nz, F.col("__i__") / scale), round_digits).alias(
            "intercept"
        ),
        F.round(
            F.when(nz & (F.col("__deny__") != 0), F.col("__r2__")),
            round_digits,
        ).alias("r2"),
    )


def ewma_per_key(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    terms: int = 16,
    decimals: int = 2,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key exponentially weighted moving average (half-decay per
    event, pandas ``ewm(alpha=0.5, adjust=True)`` truncated to the
    trailing ``terms`` events) — the smoothing primitive for per-entity
    metric monitoring, where recent events should dominate but a single
    spike shouldn't.

    ewma_i = Σ_{k<terms} 2⁻ᵏ·x_{i−k} / Σ_{k<terms} 2⁻ᵏ over the rows
    that exist (shorter prefixes renormalize over the available lags —
    exactly pandas' ``adjust=True``). Truncation at ``terms`` is both
    the scale bound (O(terms) state per row, never whole-history) and
    deliberate semantics: with α=1/2 the dropped tail weighs < 2⁻¹⁵.

    Determinism trick: the value is scaled to an integer (``decimals``)
    and the weights are POWERS OF TWO, so every product ``v_int·2⁻ᵏ`` is
    an exact double (power-of-two scaling only shifts the exponent) and
    the 16-term sum spans ≤ value-bits + 15 + 4 < 53 significand bits —
    the whole numerator/denominator is EXACT in any engine, any
    evaluation order; the single final division is bit-identical
    everywhere.

    Execution shape: one window pass per key (all ``terms`` lags share
    one sort/frame), zero joins, zero UDFs. Rows with NULL values are
    dropped from the series (they would otherwise poison ``terms``
    subsequent averages)."""
    scale = 10 ** decimals
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    v = F.round(F.col(value_col) * scale).cast("long").cast("double")
    base = df.filter(F.col(value_col).isNotNull()).withColumn("__v__", v)
    num = None
    den = None
    for k in range(terms):
        wt = 2.0 ** -k
        lagged = F.lag("__v__", k).over(w) if k else F.col("__v__")
        t_num = F.coalesce(lagged * F.lit(wt), F.lit(0.0))
        t_den = F.when(lagged.isNotNull(), F.lit(wt)).otherwise(F.lit(0.0))
        num = t_num if num is None else num + t_num
        den = t_den if den is None else den + t_den
    return base.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(tiebreak_col),
        F.col(value_col),
        F.round(num / den / F.lit(float(scale)), round_digits).alias("ewma"),
    )


def rolling_zscore_anomalies(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str,
    window_rows: int = 20,
    threshold: float = 3.0,
    min_rows: int = 12,
    decimals: int = 2,
    *,
    round_digits: int = 4,
) -> DataFrame:
    """Per-key rolling-window anomaly detection: flag events whose value
    deviates more than ``threshold`` sample standard deviations from the
    trailing ``window_rows``-event mean (current row included — the
    spike itself widens the std, making the gate conservative). The
    point-anomaly primitive for per-entity metric monitoring; rows with
    fewer than ``min_rows`` trailing events are never flagged (a 3-row
    "std" is noise).

    Determinism trick: values are scaled to integers (``decimals``) and
    the frame carries n, Σx, Σx² as EXACT integer window sums; the
    z-score is assembled from them in one fixed double expression
    ``(n·x − Σx) / sqrt(n·(n·Σx² − Σx²ᵤₘ)/(n−1))`` — IEEE division and
    sqrt are correctly rounded, so the value is bit-identical on any
    engine/partitioning. Overflow budget: cents ≤ 10⁶ ⇒ n·Σx² ≤
    window_rows²·10¹² — safe in int64 for windows to ~10³ rows.

    Execution shape: one window pass per key (three sums share one
    sort/frame), a filter, zero joins/UDFs. State per row is O(1): the
    running sums, never the raw frame."""
    scale = 10 ** decimals
    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, tiebreak_col)
        .rowsBetween(-(window_rows - 1), 0)
    )
    v = F.round(F.col(value_col) * scale).cast("long")
    base = (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("__v__", v)
        .withColumn("__n__", F.count(F.lit(1)).over(w))
        .withColumn("__s1__", F.sum("__v__").over(w))
        .withColumn("__s2__", F.sum(F.col("__v__") * F.col("__v__")).over(w))
    )
    n = F.col("__n__")
    var_num = n * F.col("__s2__") - F.col("__s1__") * F.col("__s1__")
    z = (n * F.col("__v__") - F.col("__s1__")).cast("double") / F.sqrt(
        (n * var_num).cast("double") / (n - 1).cast("double")
    )
    return (
        base.withColumn(
            "zscore",
            F.when((n >= min_rows) & (var_num > 0), F.round(z, round_digits)),
        )
        .filter(F.abs(F.col("zscore")) > threshold)
        .select(
            F.col(key_col),
            F.col(ts_col),
            F.col(tiebreak_col),
            F.col(value_col),
            F.col("__n__").alias("n_window"),
            "zscore",
        )
    )


def interarrival_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    tiebreak_col: str,
    *,
    round_digits: int = 6,
) -> DataFrame:
    """Per-key inter-event gap statistics: event count, gap count, and
    the min/max/mean gap in seconds — the cadence fingerprint behind
    bot/scraper detection (machine traffic has pathologically regular
    or pathologically tight gaps) and feed-health monitoring.

    Determinism: gaps are computed in integer epoch MICROS (lag over
    one ordered window), so min/max/sum are exact integer aggregates;
    the mean is one final division and every output is rounded.
    Execution shape: one window pass + one groupBy on the SAME key —
    Spark reuses the window's hash partitioning for the aggregation, so
    the key shuffles once. Keys with a single event report zero gaps
    and NULL gap stats."""
    w = Window.partitionBy(key_col).orderBy(ts_col, tiebreak_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gap = us - F.lag(us).over(w)
    base = df.select(F.col(key_col), gap.alias("__gap_us__"))
    g = base.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count("__gap_us__").alias("n_gaps"),
        F.min("__gap_us__").alias("__min__"),
        F.max("__gap_us__").alias("__max__"),
        F.sum("__gap_us__").alias("__sum__"),
    )
    to_s = lambda c: F.round(c.cast("double") / 1e6, round_digits)  # noqa: E731
    # avg: round to integer MICROS first (sm/n as a double is within 1
    # ulp of the rational, and any .5 tie is exactly representable, so
    # both engines see the same double and round it the same way), then
    # ONE exact-input division. Rounding seconds to 6 dp directly would
    # round an already-twice-divided inexact double — engines' round()
    # can differ by the last digit at such boundaries (seen at sf0.1).
    avg_us = F.round(
        F.try_divide(F.col("__sum__").cast("double"), F.col("n_gaps"))
    )
    return g.select(
        key_col,
        "n_events",
        "n_gaps",
        to_s(F.col("__min__")).alias("min_gap_s"),
        to_s(F.col("__max__")).alias("max_gap_s"),
        (avg_us / 1e6).alias("avg_gap_s"),
    )


def interval_join(
    facts: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    range_cols: list[str],
    on: list[str] | None = None,
    chunk_width: float | None = None,
    broadcast_ranges: bool = True,
) -> DataFrame:
    """Point-in-interval lookup join: each fact row matches every range
    row with ``lo <= value < hi`` (half-open; plus equality on ``on``
    keys when given) — the IP-to-geo / price-band / bin-lookup primitive.

    A naive theta-join (``value BETWEEN lo AND hi``) is a broadcast
    nested loop — O(|facts| x |ranges|) comparisons even when almost
    nothing matches. This chunks the number line at ``chunk_width``:
    each range explodes to the chunk ids it covers, each fact computes
    its single chunk id, and the match becomes an EQUI-join on the
    chunk (+ keys) followed by the exact containment filter. Fan-out is
    bounded by ceil(range_width / chunk) chunks per range — with the
    default chunk (the widest range, fetched as one bounded scalar
    aggregate like drift's min/max spine), every range covers at most
    two chunks. Overlapping ranges yield one output row per covering
    range; a fact-range pair can never duplicate (the fact owns exactly
    one chunk id).

    ``broadcast_ranges`` hints the exploded range side (a dimension
    table in every realistic use); pass False when the range set itself
    is huge and let AQE pick the strategy.
    """
    on = on or []
    if chunk_width is None:
        row = ranges.select(
            F.max(F.col(hi_col) - F.col(lo_col)).alias("w")
        ).collect()[0]
        chunk_width = float(row["w"] or 0.0)
    if not chunk_width or chunk_width <= 0:
        raise ValueError(
            "interval_join: chunk_width must be > 0 "
            f"(got {chunk_width}; empty or degenerate ranges input?)"
        )
    c = F.lit(float(chunk_width))
    r = (
        ranges.filter(F.col(lo_col) < F.col(hi_col))
        .select(
            *on,
            F.col(lo_col).alias("__lo__"),
            F.col(hi_col).alias("__hi__"),
            *[F.col(x) for x in range_cols],
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / c).cast("bigint"),
                    F.floor(F.col(hi_col) / c).cast("bigint"),
                )
            ).alias("__chunk__"),
        )
    )
    if broadcast_ranges:
        r = F.broadcast(r)
    f = facts.withColumn(
        "__chunk__", F.floor(F.col(value_col) / c).cast("bigint")
    )
    out = f.join(r, [*on, "__chunk__"]).filter(
        (F.col(value_col) >= F.col("__lo__"))
        & (F.col(value_col) < F.col("__hi__"))
    )
    return out.drop("__chunk__", "__lo__", "__hi__")
