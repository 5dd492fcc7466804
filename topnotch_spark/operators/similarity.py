"""Similarity search over embedding columns (``array<float>``).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  Query vectors are broadcast (small side), so the "scan" side streams
  once with no shuffle; the only shuffle is the top-k window per query.
- ``srp_ann_topk``: the scale path — sign-random-projection bucketing
  restricts each query to its own bucket's candidates (expected n/2^planes
  of the corpus), turning the cross join into an equi-join on the bucket
  key. Recall < 1 by construction; raise n_planes for tighter buckets or
  probe multiple buckets for higher recall.

Determinism: cosines are rounded and ranked with an id tiebreak so results
are stable across engines and runs (ties broken by vec id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topnotch_spark.functions.vectors import dot, norm, srp_bucket
from topnotch_spark.runtime import (
    Handle,
    own_paths,
    persist,
    truncate_round,
)


def _ranked_topk(pairs: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Exact top-k neighbors for each query vector (excluding itself).

    Norms are projected per row BEFORE the join, so the per-pair work is a
    single dot-product fold — not three (dot + both norms re-derived per
    pair), which costs 3x at |corpus| x |queries| pairs. Pass ``dim``
    when known to unroll the fold into codegen (see functions.vectors
    .dot — bit-identical, just not interpreted)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col, dim).alias("__cn__"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv__"),
        norm(vec_col, dim).alias("__qn__"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("__qv__", "__cv__", dim)
                / (F.col("__qn__") * F.col("__cn__")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs, k)


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_candidates: int = 50,
    lambda_milli: int = 700,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance reranking (Carbonell & Goldstein,
    SIGIR 1998): for each query, greedily build a k-item result that
    trades relevance against redundancy —
    ``argmax_d λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`` — the
    standard diversity step between retrieval and an LLM context window
    (ten near-identical passages waste nine slots).

    Candidates are the exact cosine top-``n_candidates`` per query (feed
    the output of an ANN stage instead by passing a pre-filtered corpus
    when the exact pass is too expensive). The greedy score is INTEGER
    fixed-point: similarities are frozen to micro-units
    (``round(cos·10⁶)``, a safe integer snap of the ordered-fold double)
    and ``score_nano = lambda_milli·rel_micro −
    (1000−lambda_milli)·maxsim_micro`` — exact BIGINT arithmetic, so the
    argmax at every round is engine-exact with no double-rounding
    knife-edges (λ·a-rounded-double lands on decimal ties by
    construction — measured: Spark's round(shortest-repr) and DuckDB's
    round(true-binary) disagree there) and ties break on the neighbor
    id. A DuckDB oracle replays the whole trajectory with k unrolled
    CTE rounds.

    Emits (query_id, neighbor_id, rel_sim, mmr_score_nano, mmr_rank) —
    rel_sim is the display double, the score is the integer (1e-9
    units). Queries with fewer than k candidates return them all.

    100 TB shape (r13): candidate generation is the broadcast-queries
    scan + one per-query top-n window (the brute_force_topk shape); the
    greedy loop is then ONE pass — each query's ≤ n_candidates rows are
    packed into an array (one groupBy) and the k rounds run as a single
    JVM higher-order-function fold per query. The greedy trajectory is
    per-query sequential by definition, so there is no cross-query
    dependency to synchronize: this shape is embarrassingly parallel
    over queries with zero per-round shuffles/checkpoints, where the
    previous k-global-round loop paid k scheduling barriers (measured
    5.5s → ~1.6s at sf0.1, 40 jobs → 6). Identical integer arithmetic
    per round (same dot/round/micro expressions), so the replayed
    trajectory — and the oracle hash — is unchanged."""
    if not 0 <= lambda_milli <= 1000:
        raise ValueError(
            f"mmr_rerank: lambda_milli must be in [0, 1000], got {lambda_milli}"
        )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col, dim).alias("__cn__"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv__"),
        norm(vec_col, dim).alias("__qn__"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("rel_micro").desc(), F.col("neighbor_id").asc()
    )
    rel_cos = dot("__qv__", "__cv__", dim) / (
        F.col("__qn__") * F.col("__cn__")
    )

    # persisted: the candidate frame feeds BOTH sides of the pairwise
    # sims join AND the packing join — without the persist each
    # consumer re-runs the broadcast scan + top-n window (the
    # scan_audit guard rejects 3 uncached scans, rightly)
    cand = persist(
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.col("__cv__").alias("__v__"),
            F.round(rel_cos, round_digits).alias("rel_sim"),
            F.round(rel_cos * F.lit(1e6), 0).cast("long").alias("rel_micro"),
        )
        .withColumn("__rn__", F.row_number().over(wq))
        .filter(F.col("__rn__") <= n_candidates)
    )
    lam_l = F.lit(lambda_milli).cast("long")
    oml_l = F.lit(1000 - lambda_milli).cast("long")

    # ALL pairwise rounded micro-int similarities per query, computed in
    # ONE codegen'd equi-join (fan-out ≤ n_candidates per row, never
    # |corpus|²) — EXACTLY the expression the old round-loop used (same
    # dot fold, same round, same cast), so every argmax decision below
    # is bit-identical to the oracle's unrolled replay. Precomputing n²
    # sims instead of the greedy loop's k·n is the price of running the
    # whole trajectory in one pass: the sims run vectorized in codegen,
    # while an in-fold dot product would be interpreted per element
    # (measured: 26s interpreted vs sub-second as a join at sf0.1).
    # __rn__ (the top-n rank) doubles as each candidate's POSITION, so
    # a candidate's sims pack into a position-aligned array and the
    # greedy fold does O(1) element_at lookups.
    a = cand.select(
        "query_id",
        F.col("__rn__").alias("__apos__"),
        F.col("__v__").alias("__av__"),
    )
    b = cand.select(
        "query_id",
        F.col("__rn__").alias("__bpos__"),
        F.col("__v__").alias("__bv__"),
    )
    pair_micro = F.round(
        dot("__av__", "__bv__", dim)
        / (norm("__av__", dim) * norm("__bv__", dim))
        * F.lit(1e6),
        0,
    ).cast("long")
    sims = (
        a.join(b, "query_id")
        .select("query_id", "__apos__", "__bpos__", pair_micro.alias("__pm__"))
        .groupBy("query_id", "__apos__")
        .agg(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("__bpos__", "__pm__"))
                ),
                lambda s: s["__pm__"],
            ).alias("__sims__")
        )
        # disambiguated names: sims derives from cand, so the equi-join
        # back onto cand would otherwise be an ambiguous self-join
        .select(
            F.col("query_id").alias("__sq__"),
            "__apos__",
            "__sims__",
        )
    )
    # candidates packed per query, position-sorted (rel_micro desc,
    # neighbor asc — the wq order, so array index == __rn__ == the
    # position the sims arrays are aligned to)
    packed = (
        cand.join(
            sims,
            (F.col("query_id") == F.col("__sq__"))
            & (F.col("__rn__") == F.col("__apos__")),
        )
        .select(
            "query_id",
            "neighbor_id",
            "rel_sim",
            "rel_micro",
            "__rn__",
            "__sims__",
        )
        .groupBy("query_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "__rn__",
                        "neighbor_id",
                        "rel_sim",
                        "rel_micro",
                        "__sims__",
                    )
                )
            ).alias("__cs__")
        )
    )

    def _pick_struct(cst, score, rank):
        return F.struct(
            cst["neighbor_id"].alias("neighbor_id"),
            cst["__rn__"].alias("__rn__"),
            cst["rel_sim"].alias("rel_sim"),
            score.cast("long").alias("mmr_score_nano"),
            rank.cast("int").alias("mmr_rank"),
        )

    def _score(cst, picks):
        # max pick similarity via a greatest-fold over O(1) lookups in
        # the position-aligned sims array; the -2e6 sentinel is below
        # any cos·1e6 (≥ -1e6) so one pick always replaces it, and the
        # empty-picks round uses maxsim = 0 — exactly the round-loop's
        # coalesce(maxsim, 0) (round 1 had no selected rows, so its
        # score was lam·rel = lam·rel − oml·0)
        maxfold = F.aggregate(
            picks,
            F.lit(-2_000_000).cast("long"),
            lambda m, p: F.greatest(
                m, F.element_at(cst["__sims__"], p["__rn__"].cast("int"))
            ),
        )
        maxsim = F.when(F.size(picks) == 0, F.lit(0).cast("long")).otherwise(
            maxfold
        )
        return lam_l * cst["rel_micro"] - oml_l * maxsim

    def _step(st, r):
        rem, picks = st["rem"], st["picks"]
        scored = F.transform(
            rem,
            lambda cst: F.struct(
                cst.alias("c"), _score(cst, picks).alias("score")
            ),
        )
        # argmax fold: strict better-than (score desc, neighbor asc) —
        # the unique maximum regardless of array order
        best = F.aggregate(
            F.slice(scored, 2, F.size(scored)),
            F.element_at(scored, 1),
            lambda b, s: F.when(
                (s["score"] > b["score"])
                | (
                    (s["score"] == b["score"])
                    & (s["c"]["neighbor_id"] < b["c"]["neighbor_id"])
                ),
                s,
            ).otherwise(b),
        )
        new_state = F.struct(
            F.filter(
                rem,
                lambda cst: cst["neighbor_id"]
                != best["c"]["neighbor_id"],
            ).alias("rem"),
            F.concat(
                picks,
                F.array(_pick_struct(best["c"], best["score"], r)),
            ).alias("picks"),
        )
        # queries with fewer than k candidates: once rem drains, the
        # remaining rounds are no-ops (they return them all)
        return F.when(F.size(rem) == 0, st).otherwise(new_state)

    # typed empty picks array derived from the data itself (transform +
    # filter-false), so no hand-written DDL string can drift from the
    # real vector/ id types
    picks_empty = F.filter(
        F.transform(
            F.col("__cs__"),
            lambda cst: _pick_struct(cst, F.lit(0), F.lit(0)),
        ),
        lambda p: F.lit(False),
    )
    final_state = F.aggregate(
        F.sequence(F.lit(1), F.lit(int(k))),
        F.struct(F.col("__cs__").alias("rem"), picks_empty.alias("picks")),
        _step,
    )
    return (
        packed.select(
            "query_id", F.explode(final_state["picks"]).alias("__p__")
        )
        .select(
            "query_id",
            F.col("__p__.neighbor_id").alias("neighbor_id"),
            F.col("__p__.rel_sim").alias("rel_sim"),
            F.col("__p__.mmr_score_nano").alias("mmr_score_nano"),
            F.col("__p__.mmr_rank").alias("mmr_rank"),
        )
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
    dim: int | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: corpus vectors are assigned to their
    nearest centroid (inverted lists); each query probes its ``n_probe``
    nearest centroids and ranks only those lists' members — candidate
    cost is ~(n_probe / n_centroids) of the corpus per query.

    Default centroids are the ``n_centroids`` lowest-id corpus vectors —
    deterministic with no RNG or iterative training, so any engine
    reproduces the exact same index (the catalog's oracle-checked
    configuration). Pass ``centroids`` — e.g. the frame from
    ``kmeans_centroids`` (columns centroid_id, centroid) — to query
    against a TRAINED index with the identical query path. Assignment
    ties break toward the lower centroid id in every engine (identical
    float ops + explicit ordering).

    Scale shape: assignment is a broadcast cross join against
    ``n_centroids`` rows (tiny) + one window per id; the candidate join
    is an equi-join on centroid_id — the inverted-list bucket — so the
    whole thing is broadcast + one keyed shuffle, never |corpus|x|queries|.

    The default centroid seed frame is registered in the dedup persist
    registry; consume inside ``dedup_scope()`` or call
    ``unpersist_intermediates()`` to release it (under a checkpoint dir
    — ``dedup_scope(checkpoint_dir=...)`` or a plan's ``checkpointDir``
    — the persist spills to parquet EAGERLY at construction time, like
    the dedup family).
    """
    if centroids is not None:
        cents = centroids.select(
            "centroid_id", F.col("centroid").alias("__cvec__")
        )
    else:
        # PERSISTED: the seed frame is n_centroids rows but derives from
        # a corpus orderBy/limit — it is broadcast into BOTH assign()
        # branches (corpus lists + query probes), and without the persist
        # each branch re-scans and re-sorts the corpus to rebuild it.
        cents = persist(
            corpus.orderBy(id_col)
            .limit(n_centroids)
            .select(
                F.col(id_col).alias("centroid_id"),
                F.col(vec_col).alias("__cvec__"),
            )
        )

    def assign(
        df: DataFrame, out_id: str, out_vec: str, out_norm: str, keep: int
    ) -> DataFrame:
        from topnotch_spark.functions.vectors import cosine

        scored = (
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias(out_vec),
                norm(vec_col, dim).alias(out_norm),  # once per row, pre-join
            )
            .crossJoin(F.broadcast(cents))
            .withColumn("__cc__", cosine(out_vec, "__cvec__"))
        )
        w = Window.partitionBy(out_id).orderBy(
            F.col("__cc__").desc(), F.col("centroid_id").asc()
        )
        return (
            scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") <= keep)
            .select(out_id, out_vec, out_norm, "centroid_id")
        )

    corpus_lists = assign(corpus, "neighbor_id", "__cv__", "__cn__", 1)
    probes = assign(queries, "query_id", "__qv__", "__qn__", n_probe)
    pairs = (
        probes.join(corpus_lists, "centroid_id")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("__qv__", "__cv__", dim)
                / (F.col("__qn__") * F.col("__cn__")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs, k)


def srp_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    round_digits: int = 6,
    dim: int | None = None,
    *,
    hamming_probes: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's SRP bucket(s).
    Pass ``dim`` when known — SRP planes become literals (see srp_bucket).
    Norms are projected per row before the join (see brute_force_topk).

    ``hamming_probes=1`` (default) is standard LSH multiprobe: each query
    also probes every bucket at Hamming distance 1 (one sign bit flipped
    — exactly the buckets a near neighbor sitting close to one
    hyperplane falls into). Candidates grow from n/2^planes to
    (planes+1)·n/2^planes of the corpus per query — still a bucketed
    equi-join. ``0`` restores single-bucket probing. Radii ≥ 2 are
    deliberately unsupported: C(planes, 2) probes buys little over
    ``ivf_topk``'s ``n_probe`` knob.

    Honest quality note (measure with ``topk_recall``, don't assume):
    SRP recall depends on how ANGULARLY CLOSE true neighbors are. On
    tight clusters (cos ≳ 0.9) multiprobe reaches ~0.9 recall at 8
    planes; on the weak-similarity synthetic test embeddings (best
    neighbors cos ≈ 0.33 ⇒ expected Hamming ≈ 3 of 8 bits) ANY radius-1
    scheme stays near 0.1 — there ``ivf_topk`` (n_probe=4/16 ⇒ ~0.9
    measured) is the right index. That trade-off is exactly what the
    cataloged ``similarity_ann_recall`` report shows."""
    if hamming_probes not in (0, 1):
        raise ValueError("srp_ann_topk: hamming_probes must be 0 or 1")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col, dim).alias("__cn__"),
        srp_bucket(vec_col, n_planes, dim).alias("bucket"),
    )
    # The SRP bucket expression (n_planes dot-product folds over literal
    # sign arrays) is computed into a NAMED column first; the multiprobe
    # flips then reference the column. Inlined, the explode embedded the
    # full bucket expression 3·n_planes+1 times (≈12,800 literal doubles
    # at 8 planes × dim 64) — Spark analyzes the logical plan eagerly on
    # EVERY transformation, so that one projection dominated driver-side
    # construction (guide §4, the boundary; CollapseProject keeps
    # non-cheap multiply-referenced aliases un-inlined, so the split
    # projection survives optimization too).
    q0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv__"),
        norm(vec_col, dim).alias("__qn__"),
        srp_bucket(vec_col, n_planes, dim).alias("__b0__"),
    )
    if hamming_probes == 1:
        # one parsed expression for the whole probe set (if() == CASE
        # WHEN — the same flip semantics the Column form built op by op)
        flips = ", ".join(
            f"concat(substring(__b0__, 1, {i}), "
            f"if(substring(__b0__, {i + 1}, 1) = '1', '0', '1'), "
            f"substring(__b0__, {i + 2}, {n_planes - i - 1}))"
            for i in range(n_planes)
        )
        bucket = F.expr(f"explode(array(__b0__, {flips}))")
    else:
        bucket = F.col("__b0__")
    q = q0.select(
        "query_id", "__qv__", "__qn__", bucket.alias("bucket")
    )
    pairs = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot("__qv__", "__cv__", dim)
                / (F.col("__qn__") * F.col("__cn__")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    return _ranked_topk(pairs, k)


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-label mean embedding: (label, n_vectors, centroid) — the
    building block for IVF coarse quantizers, class prototypes, and
    cluster drift monitoring.

    Execution shape: posexplode to (label, dim_pos, value) then ONE
    groupBy(label, pos) with map-side partial sums — shuffle volume is
    (labels × dim) partial aggregates per partition, not the exploded
    stream — and a second tiny groupBy(label) that reassembles the
    ordered array via sort_array(collect_list(struct(pos, avg))). Both
    aggs are linear scans; nothing is collected to the driver. Values
    are summed as doubles (float32 inputs sum exactly in a 53-bit
    mantissa at these magnitudes) and the mean is rounded, so results
    are engine-stable."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    per_dim = ex.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("double")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    return per_dim.groupBy("label").agg(
        F.max("n").alias("n_vectors"),
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        F.round(F.col("s") / F.col("n"), round_digits).alias("avg"),
                    )
                )
            ),
            lambda x: x["avg"],
        ).alias("centroid"),
    )


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization, the standard 4×
    compression for ANN indexes at corpus scale: scale = max|v| / 127,
    q_i = floor(v_i / scale + 0.5) clamped to [−127, 127]. Emits
    exploded scalar rows (vec_id, pos, q, scale) — dequantize with
    ``q * scale``; worst-case per-component error is scale/2.

    Engine-portable by construction: floor(x + 0.5) instead of round()
    (round-half rules differ across engines; floor does not), and every
    intermediate is the same IEEE double expression on both sides.
    Execution: one projection + posexplode, zero shuffle, no driver
    data; at 100 TB this is a streaming map over the embedding column.
    Zero vectors quantize to q = 0 with scale = 0 (guarded division)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, lambda x: F.abs(x))) / F.lit(127.0)
    ex = df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.posexplode(v).alias("pos", "val"),
    )
    q = F.when(
        F.col("scale") > 0,
        F.least(
            F.greatest(
                F.floor(F.col("val") / F.col("scale") + F.lit(0.5)),
                F.lit(-127),
            ),
            F.lit(127),
        ),
    ).otherwise(F.lit(0))
    return ex.select(
        id_col,
        "pos",
        q.cast("int").alias("q"),
        F.round("scale", 9).alias("scale"),
    )


def kmeans_centroids(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    max_iter: int = 5,
):
    """Deterministic spherical k-means (Lloyd's) over an embedding
    column: the trained upgrade for ivf_topk's seeded centroids.

    Determinism, by construction: init = the ``n_centroids`` lowest-id
    vectors (no RNG), assignment = max-cosine with centroid-id tiebreak,
    means recomputed in a fixed order — deterministic GIVEN a fixed
    partitioning. (The per-dimension means are distributed double
    partial sums, so accumulation order across partitions can move a
    centroid component by an ulp between cluster layouts and flip a
    borderline assignment; rerunning on the same layout is stable.)
    Returns ``(centroids, assignments)``:
    centroids (centroid_id, centroid: array<double>, n_members),
    assignments (id, centroid_id).

    Scale shape per iteration: assignment is a broadcast cross join
    against ``n_centroids`` rows + one per-id window (same shape as
    ivf_topk.assign); mean recompute is posexplode → groupBy(centroid,
    dim) with map-side partial sums. The ONLY driver data is the
    k × dim centroid matrix (collected to build the next broadcast
    literal — tiny by definition) and a 1-row convergence count.
    Early-stops when no vector changes assignment."""
    from topnotch_spark.functions.vectors import cosine

    spark = df.sparkSession
    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    seed_rows = base.orderBy("id").limit(n_centroids).collect()
    cents = [
        (i, [float(x) for x in r["v"]]) for i, r in enumerate(seed_rows)
    ]
    assignments = ckpt = None
    for _ in range(max_iter):
        cdf = spark.createDataFrame(
            cents, "centroid_id int, cvec array<double>"
        )
        scored = base.crossJoin(F.broadcast(cdf)).withColumn(
            "__cc__", cosine("v", "cvec")
        )
        w = Window.partitionBy("id").orderBy(
            F.col("__cc__").desc(), F.col("centroid_id").asc()
        )
        new_assign = (
            scored.withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("id", "v", "centroid_id")
        )
        if assignments is not None:
            # the previous assignment rides along, so the change probe
            # reads only this round (truncate_round frees the last one)
            prev = assignments.select("id", F.col("centroid_id").alias("__prev__"))
            new_assign = new_assign.join(prev, "id")
        new_assign, ckpt = truncate_round(new_assign, ckpt, local=True)
        if assignments is not None:
            changed = (
                new_assign.filter(F.col("centroid_id") != F.col("__prev__"))
                .limit(1)
                .count()
            )
            if changed == 0:
                assignments = new_assign
                break
        assignments = new_assign
        per_dim = (
            assignments.select(
                "centroid_id", F.posexplode("v").alias("pos", "val")
            )
            .groupBy("centroid_id", "pos")
            .agg(F.sum(F.col("val").cast("double")).alias("s"),
                 F.count(F.lit(1)).alias("n"))
            .collect()
        )
        sums: dict[int, dict[int, float]] = {}
        counts: dict[int, int] = {}
        for r in per_dim:
            sums.setdefault(r["centroid_id"], {})[r["pos"]] = r["s"]
            counts[r["centroid_id"]] = r["n"]
        cents = [
            (
                cid,
                [
                    sums[cid][p] / counts[cid]
                    for p in sorted(sums[cid])
                ]
                if cid in sums
                else vec,  # empty cluster keeps its previous centroid
            )
            for cid, vec in cents
        ]
    cdf = spark.createDataFrame(cents, "centroid_id int, centroid array<double>")
    members = assignments.groupBy("centroid_id").agg(
        F.count(F.lit(1)).alias("n_members")
    )
    centroids = cdf.join(members, "centroid_id", "left").select(
        "centroid_id",
        "centroid",
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
    )
    out = assignments.select("id", "centroid_id")
    # both frames read the final round's checkpoint
    own_paths(out, [ckpt])
    return centroids, out


def kmeans_centroids_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    n_rounds: int = 3,
) -> tuple:
    """ENGINE-EXACT spherical k-means — the oracle-replayable upgrade of
    :func:`kmeans_centroids` for trained-index paths that must be
    bit-reproducible on any engine (SemDeDup with trained clusters,
    graded IVF indexes). Two changes buy exactness:

    - fixed ``n_rounds`` (no convergence probe), so a replay runs the
      identical number of assignment/update rounds;
    - all cross-partition arithmetic is fixed-point: assignment ranks on
      ``round(cos·10⁶)`` BIGINTs (centroid-id tiebreak), and the mean
      recompute sums micro-unit longs — an order-independent integer
      sum, unlike :func:`kmeans_centroids`'s double partial sums whose
      accumulation order can move a component by an ulp between cluster
      layouts. The new component is round-half-away-from-zero
      ``(2|s| + n) // 2n`` in pure integers (no decimal-tie knife edge)
      divided by 10⁶ — the same IEEE double on every engine.

    Returns ``(centroids, assignments)``: centroids (centroid_id,
    centroid: array<double>, n_members), assignments (id, centroid_id)
    under the FINAL centroids (one extra assignment pass, so the pair
    is self-consistent). Init = the ``n_centroids`` lowest-id vectors,
    centroid_id = 0-based seed rank; empty clusters keep their previous
    centroid.

    Execution shape (100 TB): per round one broadcast cross join
    against ``n_centroids`` rows + one per-id window (the ivf_topk
    assign shape) and one posexplode → map-side-combined
    groupBy(centroid, dim). The ONLY driver data is the k × dim
    integer mean matrix plus the k member counts (bounded by definition
    — the broadcast-literal convention of kmeans_centroids); the
    returned centroids frame is a LocalTableScan, so downstream
    broadcast cross joins against it are provably row-bounded."""
    from topnotch_spark.functions.vectors import cosine as _cos

    if n_centroids < 1:
        raise ValueError(
            f"kmeans_centroids_exact: n_centroids must be >= 1"
        )
    if n_rounds < 1:
        raise ValueError(f"kmeans_centroids_exact: n_rounds must be >= 1")

    spark = df.sparkSession
    # persisted: the (id, v) projection feeds the seeds collect, one
    # assignment cross-join PER ROUND and the final assignment pass —
    # 2·n_rounds+2 corpus scans unpersisted (measured: four 32-task
    # 0.5s scan+cast stages per cataloged 2-round train at sf0.1)
    base = persist(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
    )
    seeds = base.orderBy("id").limit(n_centroids).collect()
    cents = [
        (i, [float(x) for x in r["v"]]) for i, r in enumerate(seeds)
    ]

    def assign(cent_list):
        cdf = spark.createDataFrame(
            cent_list, "centroid_id int, cvec array<double>"
        )
        w = Window.partitionBy("id").orderBy(
            F.col("__ccm__").desc(), F.col("centroid_id").asc()
        )
        return (
            base.crossJoin(F.broadcast(cdf))
            .select(
                "id",
                "v",
                "centroid_id",
                F.round(_cos("v", "cvec") * F.lit(1e6), 0)
                .cast("long")
                .alias("__ccm__"),
            )
            .withColumn("__rn__", F.row_number().over(w))
            .filter(F.col("__rn__") == 1)
            .select("id", "v", "centroid_id")
        )

    def mean_micro(s: int, n: int) -> int:
        return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))

    for _ in range(n_rounds):
        per_dim = (
            assign(cents)
            .select("centroid_id", F.posexplode("v").alias("pos", "val"))
            .groupBy("centroid_id", "pos")
            .agg(
                F.sum(
                    F.round(F.col("val") * F.lit(1e6), 0).cast("long")
                ).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        sums: dict[int, dict[int, int]] = {}
        counts: dict[int, int] = {}
        for r in per_dim:
            sums.setdefault(r["centroid_id"], {})[r["pos"]] = r["s"]
            counts[r["centroid_id"]] = r["n"]
        cents = [
            (
                cid,
                [
                    mean_micro(sums[cid][p], counts[cid]) / 1e6
                    for p in sorted(sums[cid])
                ]
                if cid in sums
                else vec,  # empty cluster keeps its previous centroid
            )
            for cid, vec in cents
        ]
    # checkpointed: the counts collect below and the caller's use of
    # `assignments` share one materialization instead of re-running the
    # final assignment pass
    assignments, ckpt = truncate_round(assign(cents), local=True)
    # member counts collected driver-side (k rows — the same bounded
    # budget as the mean matrix) so the returned centroids frame is ONE
    # LocalTableScan: every downstream broadcast cross join against it
    # is then provably row-bounded by plan shape (the BNLJ plan guard),
    # instead of an unbounded-looking join lineage
    counts = {
        r["centroid_id"]: r["n"]
        for r in assignments.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    centroids = spark.createDataFrame(
        [(cid, vec, int(counts.get(cid, 0))) for cid, vec in cents],
        "centroid_id int, centroid array<double>, n_members long",
    )
    out = assignments.select("id", "centroid_id")
    own_paths(out, [ckpt])
    return centroids, out


def embedding_norm_outliers(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: float = 2.0,
    round_digits: int = 6,
) -> DataFrame:
    """Flag embeddings whose L2 norm is > k sample-stddevs from their
    label's mean norm — the cheap first screen for broken encoders,
    zero vectors, and mis-scaled batches before any ANN indexing.

    Execution shape: the norm is one JVM-side sequential fold per row
    (functions.vectors.norm — double accumulation, no Python), rounded
    once so downstream stats are engine-stable; mean/stddev per label is
    one window pass over the label partitioning (2 doubles of state per
    label). One shuffle total, nothing collected to the driver."""
    from topnotch_spark.functions.vectors import norm

    rn = F.round(norm(vec_col), round_digits)
    base = df.select(
        F.col(id_col), F.col(label_col), rn.alias("l2_norm")
    )
    part = Window.partitionBy(label_col)
    mean = F.mean("l2_norm").over(part)
    std = F.stddev_samp("l2_norm").over(part)
    z = F.when(std > 0, (F.col("l2_norm") - mean) / std).otherwise(F.lit(0.0))
    return base.select(
        id_col,
        label_col,
        "l2_norm",
        F.round(z, round_digits).alias("zscore"),
        (F.abs(F.round(z, round_digits)) > k).alias("is_outlier"),
    )


def project_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 8,
    dim: int = 64,
    round_digits: int = 6,
) -> DataFrame:
    """Random-projection dimensionality reduction: out[p] = <x, s_p>
    with deterministic ±1 hyperplanes (functions.vectors.plane_signs,
    the same md5 convention SRP bucketing uses) — the cheap JL-style
    compression step ahead of ANN indexing or coarse clustering.

    The planes are driver-computed literals (out_dim x dim doubles —
    bytes, not data), so each output value is ONE JVM fold per plane:
    no shuffle, no Python, scan-bound at any scale. Output is exploded
    scalar rows (id, pos, value) so oracle checking and columnar sinks
    stay simple; collect back with sort_array(collect_list(...)) when
    an array is wanted."""
    from topnotch_spark.functions.vectors import dot, lit_double_array, plane_signs

    projections = F.array(
        *[
            F.round(
                dot(
                    F.col(vec_col),
                    lit_double_array(plane_signs(p, dim)),
                ),
                round_digits,
            )
            for p in range(out_dim)
        ]
    )
    return df.select(
        F.col(id_col), F.posexplode(projections).alias("pos", "value")
    )


def topk_recall(
    approx: DataFrame,
    exact: DataFrame,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    round_digits: int = 6,
) -> DataFrame:
    """Per-query recall of an approximate neighbor list against the
    exact one: |approx ∩ exact| / |exact| — THE quality metric for
    ANN indexes (what "n_probe=4 reaches 0.9 recall" means). Feed it
    ``srp_ann_topk``/``ivf_topk`` output as ``approx`` and
    ``brute_force_topk`` as ``exact``; both emit (query_id,
    neighbor_id, ...), and both are deterministic (rank ties broken on
    neighbor id), so the recall itself is engine-exact.

    Execution shape: one semi-join on (query, neighbor) + two
    query-sized groupBys — the frames are |queries| × k rows, so this
    costs nothing next to the searches themselves. Both inputs are
    persisted through the dedup-intermediate registry: the exact frame
    feeds two branches (totals + hits), and without the persist its
    whole search lineage — a brute-force scan of the corpus — would run
    once per branch. (At sf0.1 the persist is timing-neutral — Spark
    pipelines the duplicate subtrees in parallel — but at corpus scale
    four brute-force scans versus one materialization is not a contest.) Queries with an empty exact list cannot appear
    (brute force always returns k rows for a non-trivial corpus);
    queries missing from ``approx`` (e.g. every probed bucket empty)
    surface as recall 0, not as dropped rows."""
    e = persist(exact.select(F.col(query_col), F.col(neighbor_col)))
    a = persist(approx.select(F.col(query_col), F.col(neighbor_col)))
    totals = e.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_exact"))
    hits = (
        e.join(a, [query_col, neighbor_col], "left_semi")
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return totals.join(hits, query_col, "left").select(
        F.col(query_col),
        "n_exact",
        F.coalesce("n_hits", F.lit(0)).alias("n_hits"),
        F.round(
            F.coalesce("n_hits", F.lit(0)) / F.col("n_exact"), round_digits
        ).alias("recall"),
    )


def label_knn_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    n_planes: int = 8,
    min_agree: float = 0.5,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Label-noise screen over a labeled embedding table: for every
    vector, take its k nearest SRP-bucketed candidates (Hamming-1
    multiprobe, the srp_ann_topk bucketing) and report the fraction of
    neighbors that share its label — points whose neighborhoods
    disagree (``agree_frac < min_agree``) are the mislabeled-example
    candidates every supervised/reward dataset needs audited before
    training (Confident-Learning-style, with kNN consensus as the
    confidence proxy).

    Returns (id, label, n_neighbors, n_agree, agree_frac, suspect) for
    every vector with at least one bucketed candidate. ``n_neighbors``
    can be < k in sparse buckets — it's part of the output so a
    downstream filter can require a minimum evidence count.

    Execution shape: unlike the search operators (tiny broadcast query
    side), EVERY row is a query here, so the candidate join is a
    bucket equi-join with BOTH sides corpus-sized — a plain shuffled
    hash join on the bucket key, (planes+1)·n/2^planes candidates per
    point, never all-pairs. One row_number window per query (bounded by
    bucket size), one groupBy(query) ends it. Skew valve: at fixed
    n_planes a pathological bucket is possible; raise n_planes with
    corpus size (buckets scale as n/2^planes) exactly like the LSH
    banding knobs."""
    c = df.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("__nl__"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col, dim).alias("__cn__"),
        srp_bucket(vec_col, n_planes, dim).alias("bucket"),
    )
    # Probe buckets by exploded INDEX, flipping the materialized bucket
    # column ABOVE the Generate: an explode(array(bucket, flip(bucket,
    # 0..planes-1))) formulation inlines the bucket projection into
    # every flip (Catalyst's CollapseProject duplicates it ~27×, which
    # turned the unrolled plane expressions from a win into a 7×
    # regression — measured r8). Generate is a projection-collapse
    # barrier, so here the bucket is computed exactly once per row.
    base_q = df.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("__ql__"),
        F.col(vec_col).alias("__qv__"),
        norm(vec_col, dim).alias("__qn__"),
        srp_bucket(vec_col, n_planes, dim).alias("__b0__"),
    ).select(
        "*",
        F.explode(
            F.array(*[F.lit(i) for i in range(-1, n_planes)])
        ).alias("__fi__"),
    )
    fi = F.col("__fi__")
    b0 = F.col("__b0__")
    flipped = F.concat(
        b0.substr(F.lit(1), fi),
        F.when(
            b0.substr((fi + 1).cast("int"), F.lit(1)) == "1", F.lit("0")
        ).otherwise(F.lit("1")),
        b0.substr((fi + 2).cast("int"), F.lit(n_planes)),
    )
    q = base_q.select(
        "query_id",
        "__ql__",
        "__qv__",
        "__qn__",
        F.when(fi < 0, b0).otherwise(flipped).alias("bucket"),
    )
    ranked = (
        c.join(q, "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "__ql__",
            "__nl__",
            "neighbor_id",
            F.round(
                dot("__qv__", "__cv__", dim)
                / (F.col("__qn__") * F.col("__cn__")),
                round_digits,
            ).alias("cos_sim"),
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.col("cos_sim").desc(), F.col("neighbor_id").asc()
                )
            ),
        )
        .filter(F.col("rank") <= k)
    )
    return ranked.groupBy("query_id", "__ql__").agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.count(F.when(F.col("__nl__") == F.col("__ql__"), 1)).alias(
            "n_agree"
        ),
    ).select(
        F.col("query_id").alias(id_col),
        F.col("__ql__").alias(label_col),
        "n_neighbors",
        "n_agree",
        F.round(F.col("n_agree") / F.col("n_neighbors"), round_digits).alias(
            "agree_frac"
        ),
        (
            F.col("n_agree") / F.col("n_neighbors") < F.lit(min_agree)
        ).alias("suspect"),
    )


def contrastive_pairs(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 5,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Contrastive training-pair mining over a labeled embedding table:
    for each anchor, the k most-similar SAME-label vectors (positives)
    and the k most-similar DIFFERENT-label vectors (hard negatives —
    the near-miss examples that actually move a contrastive/triplet
    loss; random negatives are trivially separable). Emits
    (query_id, query_label, neighbor_id, neighbor_label, kind, cos_sim,
    rank) with kind ∈ {'pos','neg'} and rank restarting per kind.

    Execution shape: anchors are a broadcast side (mine for a batch of
    anchors, not all-pairs); ONE corpus scan scores both kinds — the
    kind split is a projection, not a second join — then one
    row_number window per (anchor, kind). At corpus scale, pre-bucket
    with srp_ann_topk/ivf_topk and mine within candidates; this exact
    form is the oracle-checkable baseline (the brute_force_topk
    pattern)."""
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("__cv__"),
        norm(vec_col, dim).alias("__cn__"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("__qv__"),
        norm(vec_col, dim).alias("__qn__"),
    )
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            F.when(
                F.col("neighbor_label") == F.col("query_label"),
                F.lit("pos"),
            ).otherwise(F.lit("neg")).alias("kind"),
            F.round(
                dot("__qv__", "__cv__", dim)
                / (F.col("__qn__") * F.col("__cn__")),
                round_digits,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("query_id", "kind").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def cluster_silhouette(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    round_digits: int = 6,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette over an embedding column — the
    clustering-quality audit for the IVF / SemDeDup-style prototype
    stages: how cleanly does each inverted list separate from its
    nearest rival. The simplified (centroid-based) silhouette
    (Vendramin et al. 2010) replaces the all-pairs distances of the
    classic score with centroid distances — O(n·k), never O(n²), which
    is the only silhouette you can afford at 100 TB.

    Per vector, under cosine distance d = 1 − cos: ``a`` = d to the
    ASSIGNED (max-cos, id-tiebreak) centroid, ``b`` = d to the best
    OTHER centroid, ``s = (b − a) / max(a, b)`` — which reduces to
    ``(cc1 − cc2) / (1 − cc2)`` with cc1 ≥ cc2 the two best cosines
    (0 when the denominator is 0, i.e. a duplicate centroid). s ∈ [0,1]
    by construction here (the assigned centroid IS the max-cos one);
    near 0 = boundary vector, near 1 = well-inside its list.

    Output: (centroid_id, n_members, mean_silhouette, min_silhouette),
    one row per non-empty cluster. Determinism: per-vector s is rounded
    to MICRO-UNIT INTEGERS and summed as BIGINTs, so the mean is
    independent of partial-aggregation order on any engine.

    Default centroids are the ``n_centroids`` lowest-id corpus vectors
    (the ivf_topk convention — no RNG, any engine rebuilds the same
    index); pass ``centroids`` (centroid_id, centroid) to grade a
    TRAINED index (e.g. kmeans_centroids output). Execution shape: one
    broadcast cross join against the centroid frame + one per-id window
    + one map-side-combined groupBy(centroid)."""
    from topnotch_spark.functions.vectors import cosine as _cos

    base = corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if centroids is None:
        cents = base.orderBy("id").limit(n_centroids).select(
            F.col("id").alias("centroid_id"), F.col("v").alias("cvec")
        )
    else:
        cents = centroids.select(
            "centroid_id", F.col("centroid").alias("cvec")
        )
    scored = base.crossJoin(F.broadcast(cents)).select(
        "id", "centroid_id", _cos("v", "cvec").alias("cc")
    )
    # the two best cosines per vector come from ONE groupBy(id) over a
    # collect_list bounded by |centroids| rows per id — a window +
    # rank-1/rank-2 self-join would branch the scored subtree and scan
    # the corpus twice more (caught by the scan-count plan guard).
    # Sorting desc on struct(cc, -centroid_id) breaks cosine ties toward
    # the LOWER centroid id, the ivf_topk assignment convention.
    top2 = scored.groupBy("id").agg(
        F.slice(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("cc"), (-F.col("centroid_id")).alias("nid")
                    )
                ),
                asc=False,
            ),
            1,
            2,
        ).alias("t2")
    )
    cc1 = F.col("t2")[0]["cc"]
    cc2 = F.col("t2")[1]["cc"]
    # >= 0 guard (not == 0): cosine() is unclamped, so an identical or
    # near-duplicate centroid can put cc2 at 1.0 + ulp — a tiny negative
    # denominator would make s unbounded instead of the documented 0.
    s = F.when(
        F.size("t2") < 2, F.lit(None)
    ).when(
        (F.lit(1.0) - cc2) <= 0, F.lit(0.0)
    ).otherwise((cc1 - cc2) / (F.lit(1.0) - cc2))
    per_vec = top2.select(
        (-F.col("t2")[0]["nid"]).alias("own"),
        F.round(s * 1_000_000).cast("long").alias("__sm__"),
    ).filter(F.col("__sm__").isNotNull())
    return (
        per_vec.groupBy(F.col("own").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("__sm__").alias("__sum__"),
            F.min("__sm__").alias("__min__"),
        )
        .select(
            "centroid_id",
            "n_members",
            F.round(
                F.col("__sum__") / (F.col("n_members") * F.lit(1_000_000.0)),
                round_digits,
            ).alias("mean_silhouette"),
            F.round(F.col("__min__") / F.lit(1_000_000.0), round_digits).alias(
                "min_silhouette"
            ),
        )
        .orderBy("centroid_id")
    )


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> DataFrame:
    """Per-DIMENSION embedding health report: one row per vector
    position with (pos, n, n_zero, mean, std, min_val, max_val) — the
    column-profile of the vector space. Dead dimensions (std ≈ 0,
    n_zero ≈ n) waste index bits and silently break cosine geometry
    after a bad export; grossly imbalanced per-dim scales say the
    embedding wants normalization before PQ/int8 quantization (the
    audits that consume this table: quantize_recall / pq_recall degrade
    exactly when per-dim ranges are skewed).

    Determinism: elements are frozen to micro-unit integers, so sums
    and sums-of-squares are exact (decimal(38,0) — micro² terms
    overflow BIGINT at corpus scale) and mean/std are single double
    expressions over identical integers on any engine.

    Execution shape: ONE posexplode + map-side-combined groupBy(pos) —
    dim rows out, scan-bound at any scale."""
    dec = "decimal(38,0)"
    ex = df.select(
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("pos", "x")
    ).select(
        "pos",
        F.round(F.col("x") * F.lit(1e6), 0).cast("long").alias("xm"),
    )
    g = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("xm") == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum(F.col("xm").cast(dec)).alias("__s__"),
        F.sum((F.col("xm").cast(dec) * F.col("xm").cast(dec))).alias(
            "__ssq__"
        ),
        F.min("xm").alias("__mn__"),
        F.max("xm").alias("__mx__"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("__s__").cast("double") / nd / F.lit(1e6)
    var_num = (
        F.col("n").cast(dec) * F.col("__ssq__")
        - F.col("__s__") * F.col("__s__")
    )
    std = F.sqrt(var_num.cast("double")) / nd / F.lit(1e6)
    return g.select(
        "pos",
        "n",
        "n_zero",
        F.round(mean, round_digits).alias("mean"),
        F.round(std, round_digits).alias("std"),
        F.round(
            F.col("__mn__").cast("double") / F.lit(1e6), round_digits
        ).alias("min_val"),
        F.round(
            F.col("__mx__").cast("double") / F.lit(1e6), round_digits
        ).alias("max_val"),
    )


def _pq_codebook(base: DataFrame, m: int, sd: int, n_codes: int) -> DataFrame:
    """Seeded per-subspace codebook (s, code_id, cvec): the n_codes
    lowest-id vectors' subvectors (the ivf deterministic convention)."""
    wseed = Window.orderBy("vid")
    seeds = (
        base.orderBy("vid")
        .limit(n_codes)
        .withColumn("code_id", F.row_number().over(wseed) - 1)
    )
    sub_structs = ", ".join(
        f"struct({s} AS s, slice(v, {s * sd + 1}, {sd}) AS cvec)"
        for s in range(m)
    )
    return seeds.select(
        F.expr(f"explode(array({sub_structs}))").alias("__e__"),
        "code_id",
    ).select(
        F.col("__e__.s").alias("s"), "code_id",
        F.col("__e__.cvec").alias("cvec"),
    )


def _pq_encode(base: DataFrame, cb: DataFrame, m: int, sd: int) -> DataFrame:
    """(vid, s, code_id): L2²-argmin code per subspace, lower-code tie."""
    sub_structs = ", ".join(
        f"struct({s} AS s, slice(v, {s * sd + 1}, {sd}) AS subv)"
        for s in range(m)
    )
    sub = base.select(
        "vid",
        F.expr(f"explode(array({sub_structs}))").alias("__e__"),
    ).select("vid", F.col("__e__.s").alias("s"), F.col("__e__.subv").alias("subv"))
    l2 = F.aggregate(
        F.zip_with(
            F.col("subv"), F.col("cvec"), lambda x, c: (x - c) * (x - c)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wenc = Window.partitionBy("vid", "s").orderBy(
        F.col("__d__").asc(), F.col("code_id").asc()
    )
    return (
        sub.join(F.broadcast(cb), "s")
        .select("vid", "s", "code_id", l2.alias("__d__"))
        .withColumn("__rn__", F.row_number().over(wenc))
        .filter(F.col("__rn__") == 1)
        .select("vid", "s", "code_id")
    )


def ivfpq_recall(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 10,
    n_queries: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """The full FAISS-style IVF-PQ query path, graded: an IVF index
    restricts each query to its ``n_probe`` nearest inverted lists
    (~n_probe/n_centroids of the corpus), PQ codes compress the
    candidates ~32×, ADC lookup tables score them in m integer lookups
    per candidate — and exact top-k grades the whole pipeline per query:
    (query_id, k_exact, n_candidates, n_overlap, recall). This is the
    composition the standalone audits measure in isolation
    (similarity_ann_recall the index, pq_recall the representation);
    production recall is the PRODUCT of both losses, which only the
    composed path shows.

    Both index and codebooks are SEEDED from the lowest-id vectors (the
    deterministic no-RNG convention shared with ivf_topk / pq_recall),
    assignment ties break to the lower id, ADC partial dots are
    micro-unit integers — every candidate set and every ranking is
    engine-exact.

    100 TB shape: one broadcast centroid assignment + argmax window
    (the IVF build), one PQ encode (broadcast codebook + argmin
    window), then per query: an equi-join on centroid_id (the inverted
    list — the ONLY corpus-sized access, pre-pruned to n_probe lists)
    and an m-lookup integer sum per candidate. The exact pass exists
    only to grade."""
    from topnotch_spark.functions.vectors import cosine as cos_fn

    if dim % m != 0:
        raise ValueError(f"ivfpq_recall: dim={dim} not divisible by m={m}")
    sd = dim // m
    base = persist(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
    )
    # --- IVF: seeded centroids, corpus assignment, query probes -------
    wseed = Window.orderBy("vid")
    cents = persist(
        base.orderBy("vid")
        .limit(n_centroids)
        .withColumn("centroid_id", F.row_number().over(wseed) - 1)
        .select("centroid_id", F.col("v").alias("cvec_full"))
    )
    wassign = Window.partitionBy("vid").orderBy(
        F.col("__cc__").desc(), F.col("centroid_id").asc()
    )
    assign = persist(
        base.crossJoin(F.broadcast(cents))
        .withColumn("__cc__", cos_fn(F.col("v"), F.col("cvec_full")))
        .withColumn("__rn__", F.row_number().over(wassign))
        .filter(F.col("__rn__") == 1)
        .select("vid", "centroid_id")
    )
    q = base.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        norm("v", dim).alias("qn"),
    )
    wprobe = Window.partitionBy("query_id").orderBy(
        F.col("__cc__").desc(), F.col("centroid_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn("__cc__", cos_fn(F.col("qv"), F.col("cvec_full")))
        .withColumn("__rn__", F.row_number().over(wprobe))
        .filter(F.col("__rn__") <= n_probe)
        .select("query_id", "centroid_id")
    )
    cands = (
        probes.join(assign, "centroid_id")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    # --- PQ: codebooks, codes, per-query ADC tables --------------------
    cb = persist(_pq_codebook(base, m, sd, n_codes))
    codes = persist(_pq_encode(base, cb, m, sd))
    qsub = q.select(
        "query_id",
        "qn",
        F.expr(
            "explode(array({}))".format(
                ", ".join(
                    f"struct({s} AS s, slice(qv, {s * sd + 1}, {sd}) AS qsv)"
                    for s in range(m)
                )
            )
        ).alias("__e__"),
    ).select(
        "query_id", "qn", F.col("__e__.s").alias("s"),
        F.col("__e__.qsv").alias("qsv"),
    )
    pdot = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cn2 = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc = qsub.join(F.broadcast(cb), "s").select(
        "query_id",
        "qn",
        "s",
        "code_id",
        F.round(pdot * F.lit(1e6), 0).cast("long").alias("d_micro"),
        F.round(cn2 * F.lit(1e6), 0).cast("long").alias("n2_micro"),
    )
    scored = (
        cands.join(codes, "vid")
        .join(F.broadcast(adc), ["query_id", "s", "code_id"])
        .groupBy("query_id", "qn", "vid")
        .agg(
            F.sum("d_micro").alias("__sd__"),
            F.sum("n2_micro").alias("__sn2__"),
        )
    )
    cos_est = F.when(
        F.col("__sn2__") > 0,
        (F.col("__sd__").cast("double") / F.lit(1e6))
        / (
            F.col("qn")
            * F.sqrt(F.col("__sn2__").cast("double") / F.lit(1e6))
        ),
    ).otherwise(F.lit(-2.0))
    wtop = Window.partitionBy("query_id").orderBy(
        F.col("__cos__").desc(), F.col("vid").asc()
    )
    pq_top = (
        scored.withColumn("__cos__", cos_est)
        .withColumn("__rn__", F.row_number().over(wtop))
        .filter(F.col("__rn__") <= k)
        .select("query_id", F.col("vid").alias("neighbor_id"))
    )
    n_cands = cands.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    exact = brute_force_topk(
        base,
        base.filter(F.col("vid") < n_queries),
        id_col="vid",
        vec_col="v",
        k=k,
        round_digits=round_digits,
        dim=dim,
    ).select("query_id", "neighbor_id")
    return (
        exact.join(
            pq_top.withColumn("__hit__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap"),
        )
        .join(F.broadcast(n_cands), "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce("n_candidates", F.lit(0).cast("long")).alias(
                "n_candidates"
            ),
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.col("k_exact"), round_digits
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def pq_recall(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = 8,
    n_codes: int = 16,
    k: int = 10,
    n_queries: int = 5,
    round_digits: int = 6,
) -> DataFrame:
    """Product-quantization recall audit (Jégou, Douze & Schmid, TPAMI
    2011): split each vector into ``m`` subspaces, encode every corpus
    vector as m codebook ids, score queries against the CODES via ADC
    lookup tables (asymmetric distance computation — per candidate the
    cost is m table lookups, not dim multiplies), and grade exact top-k
    under PQ codes against exact top-k under the raw doubles — per
    query (query_id, k_exact, n_overlap, recall). The third rung of the
    compression-audit ladder: similarity_ann_recall grades the INDEX,
    quantize_recall the int8 SCALAR representation, this the
    dim/m·log2(n_codes)-bit PQ representation (~32× smaller than
    float32 at the defaults).

    Codebooks are SEEDED, not trained: subspace s's codebook is the
    ``n_codes`` lowest-id corpus vectors' s-th subvectors (the ivf_topk
    deterministic-centroid convention — no RNG, no iterative training,
    so any engine reproduces the exact same index; swap in trained
    codebooks for production recall). Encoding argmin (L2², ordered
    fold, tie to the lower code id) and the per-(query, subspace, code)
    ADC partial dots are frozen to micro-unit integers, so candidate
    scores are sums of exact integers — ordering is engine-exact with
    no float-summation-order hazard.

    100 TB shape: the codebook is m·n_codes rows (broadcast); encoding
    is one explode to m rows/vector + a broadcast join + per-(id,
    subspace) argmin window; the ADC table is n_queries·m·n_codes rows
    (broadcast); scoring joins the code table once and aggregates —
    never touches the raw vectors again (that is the point of PQ)."""
    if dim % m != 0:
        raise ValueError(f"pq_recall: dim={dim} not divisible by m={m}")
    sd = dim // m
    base = persist(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
        )
    )
    cb = persist(_pq_codebook(base, m, sd, n_codes))
    codes = persist(_pq_encode(base, cb, m, sd))
    # ADC lookup table per query: micro-int partial dots + code norms
    q = base.filter(F.col("vid") < n_queries).select(
        F.col("vid").alias("query_id"),
        F.col("v").alias("qv"),
        norm("v", dim).alias("qn"),
    )
    qsub = q.select(
        "query_id",
        "qn",
        F.expr(
            "explode(array({}))".format(
                ", ".join(
                    f"struct({s} AS s, slice(qv, {s * sd + 1}, {sd}) AS qsv)"
                    for s in range(m)
                )
            )
        ).alias("__e__"),
    ).select(
        "query_id", "qn", F.col("__e__.s").alias("s"),
        F.col("__e__.qsv").alias("qsv"),
    )
    pdot = F.aggregate(
        F.zip_with(F.col("qsv"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cn2 = F.aggregate(
        F.zip_with(F.col("cvec"), F.col("cvec"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    adc = qsub.join(F.broadcast(cb), "s").select(
        "query_id",
        "qn",
        "s",
        "code_id",
        F.round(pdot * F.lit(1e6), 0).cast("long").alias("d_micro"),
        F.round(cn2 * F.lit(1e6), 0).cast("long").alias("n2_micro"),
    )
    scored = (
        codes.join(F.broadcast(adc), ["s", "code_id"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", "qn", "vid")
        .agg(
            F.sum("d_micro").alias("__sd__"),
            F.sum("n2_micro").alias("__sn2__"),
        )
    )
    cos_est = F.when(
        F.col("__sn2__") > 0,
        (F.col("__sd__").cast("double") / F.lit(1e6))
        / (
            F.col("qn")
            * F.sqrt(F.col("__sn2__").cast("double") / F.lit(1e6))
        ),
    ).otherwise(F.lit(-2.0))
    wtop = Window.partitionBy("query_id").orderBy(
        F.col("__cos__").desc(), F.col("vid").asc()
    )
    pq_top = (
        scored.withColumn("__cos__", cos_est)
        .withColumn("__rn__", F.row_number().over(wtop))
        .filter(F.col("__rn__") <= k)
        .select("query_id", F.col("vid").alias("neighbor_id"))
    )
    exact = brute_force_topk(
        base,
        base.filter(F.col("vid") < n_queries),
        id_col="vid",
        vec_col="v",
        k=k,
        round_digits=round_digits,
        dim=dim,
    ).select("query_id", "neighbor_id")
    return (
        exact.join(
            pq_top.withColumn("__hit__", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap"),
        )
        .select(
            "query_id",
            "k_exact",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.col("k_exact"), round_digits
            ).alias("recall"),
        )
        .orderBy("query_id")
    )


def kcenter_select(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    dim: int | None = None,
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point sampling — the
    2-approximation of Gonzalez 1985, used as the coreset strategy of
    Sener & Savarese, ICLR 2018): start from the lowest-id vector, then
    repeatedly pick the point FARTHEST from everything selected so far —
    k maximally-spread exemplars. The diversity-first data selector
    next to [mmr_rerank] (per-query diversity) and curation.dsir_weights
    (distribution matching): k-center covers the embedding space, which
    is what you want for labeling budgets, eval-set seeding, and
    SemDeDup-style prototype picking.

    Distance is cosine distance frozen to micro-unit integers
    (``round((1−cos)·10⁶)``, ordered-fold cosine), so the running
    min-distance state and every argmax are exact integer comparisons —
    engine-replayable; ties break on the lower id. Emits the k picks:
    (pick_rank, id, dist_to_selected_micro) — pick 1 (the seed) carries
    NULL distance; the column is non-increasing and is the classic
    coverage-radius curve (read it to choose k).

    100 TB shape: the running state is one (id, vec, min_dist) frame;
    each round is ONE broadcast of the single new pick + a projection
    (least of two integers) + a TakeOrdered(1) — k linear passes,
    lineage truncated per round, no pairwise materialization ever."""
    if k < 1:
        raise ValueError(f"kcenter_select: k must be >= 1, got {k}")
    base = persist(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                "v"
            ),
            norm(vec_col, dim).alias("__n__"),
        )
    )
    d_micro = F.round(
        (
            F.lit(1.0)
            - dot("v", "__pv__", dim)
            / (F.col("__n__") * F.col("__pn__"))
        )
        * F.lit(1e6),
        0,
    ).cast("long")
    first = base.orderBy("vid").limit(1)
    picks = [
        first.select(
            F.lit(1).alias("pick_rank"),
            F.col("vid").alias(id_col),
            F.lit(None).cast("long").alias("dist_to_selected_micro"),
        )
    ]
    psel = first.select(
        F.col("vid").alias("__pid__"),
        F.col("v").alias("__pv__"),
        F.col("__n__").alias("__pn__"),
    )
    st = (
        base.crossJoin(F.broadcast(psel))
        .filter(F.col("vid") != F.col("__pid__"))
        .select("vid", "v", "__n__", d_micro.alias("__mind__"))
    )
    # Two checkpoint families with DIFFERENT lifetimes: each state `st`
    # is superseded by the next one (prev-handle handoff, after the pick
    # read from it is checkpointed), while every pick backs the final
    # union until the OUTPUT is released.
    st, st_ckpt = truncate_round(st, None)
    pick_ckpts: list[Handle] = []
    for r in range(2, k + 1):
        p = st.orderBy(
            F.col("__mind__").desc(), F.col("vid").asc()
        ).limit(1)
        # the last pick is the last state's only reader: it frees it
        p, pick_ckpt = truncate_round(p, st_ckpt if r == k else None)
        pick_ckpts.append(pick_ckpt)
        picks.append(
            p.select(
                F.lit(r).alias("pick_rank"),
                F.col("vid").alias(id_col),
                F.col("__mind__").alias("dist_to_selected_micro"),
            )
        )
        psel = p.select(
            F.col("vid").alias("__pid__"),
            F.col("v").alias("__pv__"),
            F.col("__n__").alias("__pn__"),
        )
        st = (
            st.crossJoin(F.broadcast(psel))
            .filter(F.col("vid") != F.col("__pid__"))
            .select(
                "vid",
                "v",
                "__n__",
                F.least(F.col("__mind__"), d_micro).alias("__mind__"),
            )
        )
        if r < k:
            st, st_ckpt = truncate_round(st, st_ckpt)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    own_paths(out, pick_ckpts)
    return out


def quantize_recall(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_queries: int = 5,
    round_digits: int = 6,
    dim: int | None = None,
) -> DataFrame:
    """Does int8 quantization change who your neighbors are? Exact
    top-k under the ORIGINAL doubles vs exact top-k where corpus AND
    queries are round-tripped through :func:`quantize_embeddings`'
    symmetric int8 scheme (q = clamp(floor(v/scale + 0.5)); deq =
    q·scale) — per query: (query_id, k_exact, n_overlap, recall).
    The audit to run before shipping a 4x-compressed index: banding
    recall (similarity_ann_recall) grades the INDEX, this grades the
    REPRESENTATION.

    Both sides are the documented exact brute-force baseline (broadcast
    NLJ over ``n_queries`` query vectors — sample queries at 100 TB, the
    similarity_topk convention). Quantize-dequantize is a pure array
    transform per row (no explode/re-assembly); the corpus projection is
    persisted once and feeds all four branches. floor(x + 0.5) not
    round() — round-half rules differ across engines; every intermediate
    is the same IEEE double expression in the DuckDB mirror."""
    # cast to double up front — the proven quantize_embeddings contract
    # (both engines then run the identical IEEE double expressions)
    base = persist(
        corpus.select(
            F.col(id_col).alias("vid"),
            F.transform(
                F.col(vec_col), lambda x: x.cast("double")
            ).alias("v"),
        )
    )
    scale = (
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(x)))
        / F.lit(127.0)
    ).alias("__s__")
    deq = base.select("vid", "v", scale).select(
        "vid",
        F.when(
            F.col("__s__") > 0,
            F.transform(
                F.col("v"),
                lambda x: F.least(
                    F.greatest(
                        F.floor(x / F.col("__s__") + F.lit(0.5)),
                        F.lit(-127),
                    ),
                    F.lit(127),
                ).cast("double")
                * F.col("__s__"),
            ),
        )
        .otherwise(F.transform(F.col("v"), lambda x: F.lit(0.0)))
        .alias("v"),
    )
    exact = brute_force_topk(
        base, base.filter(F.col("vid") < n_queries), id_col="vid",
        vec_col="v", k=k, round_digits=round_digits, dim=dim,
    ).select("query_id", "neighbor_id")
    quant = brute_force_topk(
        deq, deq.filter(F.col("vid") < n_queries), id_col="vid",
        vec_col="v", k=k, round_digits=round_digits, dim=dim,
    ).select("query_id", "neighbor_id")
    return (
        exact.join(quant.withColumn("__hit__", F.lit(1)),
                   ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("k_exact"),
            F.sum(F.coalesce(F.col("__hit__"), F.lit(0)))
            .cast("bigint")
            .alias("n_overlap"),
        )
        .select(
            "query_id",
            "k_exact",
            "n_overlap",
            F.round(
                F.col("n_overlap") / F.col("k_exact"), round_digits
            ).alias("recall"),
        )
        .orderBy("query_id")
    )
