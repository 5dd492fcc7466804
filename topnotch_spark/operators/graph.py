"""Graph analytics over co-occurrence graphs (beyond-reference
extension): PageRank node importance and triangle/clustering-coefficient
counting — the graph half of a curation pipeline (which items anchor the
catalog, how clustered is the co-purchase neighborhood, which documents
sit in dense near-dup communities). Connected components (the dedup
application) lives in ``operators/cluster.py``; this module adds the
*weighted-importance* and *local-density* primitives on the same edge
model. The reference engine has no graph stage at all — this is
LLM-pipeline extension surface, not a port of tnengine/TnEngine.scala.

Determinism contract (the repo-wide oracle rule): PageRank runs in
FIXED-POINT integer arithmetic — ranks are BIGINTs scaled by
``scale`` (default 10^12) and every step is integer multiply /
integer ``div`` — so a DuckDB oracle replaying the same chained
iterations reproduces every rank bit-for-bit. No float summation
order anywhere. The damping factor is the exact rational
``damp_num/damp_den`` (default 17/20 = 0.85):

    teleport        = (scale * (damp_den - damp_num) div damp_den) div n
    share_k(src)    = (rank_k(src) * damp_num div damp_den) div outdeg(src)
    rank_{k+1}(dst) = teleport + sum over in-edges of share_k(src)

Floor losses mean ranks sum to slightly less than ``scale`` — that is
part of the spec, identical in both engines, and irrelevant to the
ranking use of the output.

Execution shape / 100 TB notes:
- ``cooccurrence_edges`` is ONE distinct projection + one self
  equi-join ON THE BASKET KEY (fan-out bounded by basket size², never
  |items|²) + one pair groupBy — the market-basket shape
  (operators/basket.py). ``max_basket_items`` is the viral valve: a
  pathological mega-basket would otherwise contribute |basket|² pairs.
- Each PageRank iteration is one hash join (ranks into edges on src —
  both sides hash-partitioned by the same key across rounds) + one
  map-side-combined groupBy on dst + one join back to the node frame.
  Edges and degrees are persisted once (registered in the dedup-scope
  registry); per-round lineage is truncated exactly like
  cluster.connected_components (a local checkpoint, or a parquet
  roundtrip when the checkpoint dir is set — the executor-loss-safe
  real-cluster path).
- Triangle counting uses the ordered-wedge trick (a<b<c): wedges are
  generated only from each node's HIGHER-numbered neighbors, so the
  join size is sum of C(d⁺,2) over the orientation degrees — the
  standard MapReduce triangle algorithm (Suri & Vassilvitskii, WWW'11
  "Counting Triangles and the Curse of the Last Reducer"). Use a
  ``min_support`` edge threshold to keep the wedge set sparse on
  dense co-occurrence graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import Handle, own_paths, persist, truncate_round

# lineage-truncation cadence of the pagerank/PPR walk loops: one
# checkpoint every _CKPT_CADENCE rounds (plus the final round).
# Module-level so the SCALE.md cadence experiment can override it.
# r13 re-measurement: cadence 1 beats 2 (ppr 8.9s → 7.2s, pagerank
# 7.2s → 5.7s medians at sf0.1). The r11 cadence-2 pick predated the
# per-round broadcast of `shares`: with a LAZY checkpoint every other
# round, the uncheckpointed round's broadcast build re-executes the
# previous round's full edge aggregation inside its own job (profiled:
# four ~1.4s duplicate-contrib broadcast jobs per 8-round walk).
# Truncating every round makes each broadcast read a checkpoint
# instead — the duplicate work disappears and the extra checkpoints
# are node-sized. Values are unchanged by cadence (pure lineage
# mechanics; tol-gated probes fire at checkpoints, and the cataloged
# walks pin tol_scaled=None).
_CKPT_CADENCE = 1


def basket_items(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Persisted distinct ``(__b__, __i__)`` presence set of a basket
    table — the shared input of :func:`cooccurrence_edges`. Exposed so
    callers that ALSO need a per-item basket count (e.g. a popularity
    seed ranking) can pass it back via the ``items`` parameter and pay
    the fact-table distinct exactly once instead of once per consumer."""
    return persist(
        df.select(F.col(basket_col).alias("__b__"), F.col(item_col).alias("__i__"))
        .where(F.col(item_col).isNotNull())
        .distinct()
    )


def cooccurrence_edges(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_items: int | None = 12,
    min_support: int = 1,
    items: DataFrame | None = None,
) -> DataFrame:
    """Undirected unique co-occurrence edges ``(src < dst, pair_count)``:
    items sharing at least ``min_support`` baskets. Presence is set
    semantics (duplicate (basket, item) rows count once); baskets above
    ``max_basket_items`` distinct items are dropped from pairing (the
    skew valve — margins of a mega-basket would dominate the pair join).
    ``items`` optionally supplies a precomputed :func:`basket_items`
    frame (already distinct, item non-null, persisted) to share across
    consumers.
    """
    # the distinct projection feeds the valve, its anti-join, and BOTH
    # sides of the pair self-join — materialize it once (the
    # market_basket_pairs convention; released by dedup_scope)
    if items is None:
        items = basket_items(df, basket_col, item_col)
    if max_basket_items is not None:
        big = (
            items.groupBy("__b__")
            .agg(F.count(F.lit(1)).alias("__sz__"))
            .filter(F.col("__sz__") > max_basket_items)
            .select("__b__")
        )
        items = items.join(F.broadcast(big), "__b__", "left_anti")
    a = items.select("__b__", F.col("__i__").alias("src"))
    b = items.select("__b__", F.col("__i__").alias("dst"))
    pairs = (
        a.join(b, "__b__")
        .filter(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )
    if min_support > 1:
        pairs = pairs.filter(F.col("pair_count") >= min_support)
    return pairs


def _directed(edges: DataFrame) -> DataFrame:
    """Symmetric closure of an undirected (src, dst) edge set."""
    e = edges.select("src", "dst")
    return e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def pagerank(
    edges: DataFrame,
    iters: int = 8,
    scale: int = 10**12,
    damp_num: int = 17,
    damp_den: int = 20,
    broadcast_ranks: bool = True,
    tol_scaled: int | None = None,
) -> DataFrame:
    """(node, out_degree, rank_scaled) after ``iters`` fixed-point
    PageRank rounds over the symmetric closure of ``edges`` (src, dst
    undirected unique pairs — every node therefore has outdeg ≥ 1, so
    there is no dangling-mass term).

    rank_scaled is the rank probability times ``scale``, floored — a
    BIGINT, bit-reproducible by any engine with integer division (the
    DuckDB oracle chains the same ``iters`` CTEs).

    ``tol_scaled`` turns on delta-based early exit: at every lineage
    checkpoint (every ``_CKPT_CADENCE`` rounds — currently every
    round), compute ``max |rank - rank_prev|``
    against the PREVIOUS checkpoint's ranks (one node-sized join +
    scalar aggregate per check — the only driver-side value this
    operator ever collects) and stop once it is ≤ ``tol_scaled``
    fixed-point units; ``iters`` stays the cap. A converged graph then
    skips the remaining rounds and a slow-mixing one is visibly
    under-converged instead of silently so: with ``tol_scaled`` set the
    output carries an extra ``n_rounds`` column recording the REALIZED
    round count, which an oracle replay must pin to stay exact.
    Default None keeps the fixed-``iters`` contract (and schema)
    unchanged. NOTE: ``tol_scaled`` makes plan CONSTRUCTION run Spark
    jobs (each probe collects a scalar; the segment is persisted so
    probe + checkpoint compute it exactly once — see _truncate_probe).

    ``broadcast_ranks`` (default True) hints the node-sized shares
    frame into the per-round edge join as a broadcast: it is |nodes|
    rows — orders of magnitude smaller than |edges| — and per-round
    local checkpoints erase its size stats, so without the hint Spark
    sort-merges the multi-million-row edge frame every round AND
    breaks the exchange-free groupBy(dst) (see the sym partitioning
    note in the body). Set False for web-scale graphs whose node set
    itself exceeds executor memory; the equi-join path then reuses the
    same hash partitioning across rounds.
    """
    # The symmetric edge set is persisted HASH-PARTITIONED BY dst — the
    # key every round's contribution aggregate groups on. A broadcast
    # hash join on src preserves the streamed side's partitioning, so
    # the per-round groupBy(dst) runs partial+final agg WITHOUT an
    # exchange: the only per-round data movement is the node-sized
    # shares broadcast. (Unpartitioned, each round shuffles
    # |map tasks| x |nodes| partial-agg rows — measured 2.5x slower.)
    sym = persist(
        _directed(edges.select("src", "dst")).repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "dst"
        )
    )
    deg = persist(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    )
    # 1-row node-count frame rides into the plan via a broadcast cross
    # join (never a driver-side collect)
    nn = F.broadcast(deg.select(F.count(F.lit(1)).alias("__n__")))
    # Teleport mass, initial rank and out-degree are all per-node
    # constants of the walk — materialize them ONCE (r13): previously
    # every round's plan re-ran the node-count broadcast + crossJoin +
    # a deg⋈ranks join, re-planned and re-executed at each lazy
    # checkpoint's materialization. With outdeg carried inside the
    # ranks frame, `shares` is a pure projection of the previous
    # checkpoint (no join) and the final output needs no deg join.
    # Same integer expressions, computed once — values unchanged.
    tpf = persist(
        deg.crossJoin(nn).select(
            F.col("src").alias("node"),
            F.expr(
                f"(CAST({scale} AS BIGINT) * {damp_den - damp_num} "
                f"div {damp_den}) div __n__"
            ).alias("__tp__"),
            F.expr(f"CAST({scale} AS BIGINT) div __n__").alias("__r0__"),
            "outdeg",
        )
    )
    ranks = tpf.select("node", F.col("__r0__").alias("rank"), "outdeg")
    ckpt: Handle = ()  # iters=0: no round, nothing to own
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    prev = ranks
    realized = iters
    for it in range(iters):
        shares = ranks.select(
            F.col("node").alias("src"),
            F.expr(f"(rank * {damp_num} div {damp_den}) div outdeg").alias(
                "share"
            ),
        )
        contrib = (
            sym.join(hint(shares), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("share").alias("contrib"))
        )
        ranks = (
            tpf.join(contrib, "node", "left")
            .select(
                "node",
                (F.col("__tp__") + F.coalesce(F.col("contrib"), F.lit(0))).alias(
                    "rank"
                ),
                "outdeg",
            )
        )
        # truncate lineage every round (and on the last): each round's
        # broadcast build otherwise re-executes the previous round's
        # full aggregation inside its own job (cadence 1 vs 2 vs 3
        # measured at sf0.1 — see _CKPT_CADENCE note)
        if it % _CKPT_CADENCE == _CKPT_CADENCE - 1 or it == iters - 1:
            ranks, ckpt, converged = _truncate_probe(
                ranks, prev, ckpt, tol_scaled
            )
            prev = ranks
            if converged:
                realized = it + 1
                break
    out = ranks.select(
        "node", F.col("outdeg").alias("out_degree"), F.col("rank").alias("rank_scaled")
    )
    if tol_scaled is not None:
        out = out.withColumn("n_rounds", F.lit(realized))
    own_paths(out, [ckpt])
    return out


def label_propagation(
    edges: DataFrame,
    iters: int = 5,
    weight_col: str | None = None,
    broadcast_labels: bool = True,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the symmetric closure of ``edges`` —
    (node, community, community_size) after ``iters`` rounds. The graph
    complement to connected components: components find REACHABILITY
    clusters, LPA finds DENSITY clusters inside one big component —
    which near-dup neighborhoods / co-purchase niches exist even when
    everything is weakly connected.

    Determinism contract (the repo-wide oracle rule): the classic
    algorithm breaks ties RANDOMLY and updates asynchronously; this
    implementation is the synchronous variant with a total tie order —
    every node starts as its own label, and each round adopts the
    neighbor label with the greatest total edge weight (``weight_col``,
    or degree-1 counts), ties to the SMALLEST label. Integer weights,
    no RNG — a DuckDB oracle unrolling the same rounds reproduces every
    label bit-for-bit. Synchronous LPA can oscillate on bipartite-ish
    structures rather than converge; ``iters`` is a hard cap, not a
    convergence promise, and the fixed count is what keeps the result
    engine-portable.

    100 TB shape (the pagerank round shape): the symmetric edge set is
    persisted hash-partitioned by src; each round broadcasts the
    node-sized label frame into the edge join (dst side), then the
    (src, label) weight aggregate AND the per-src argmax window both
    reuse the src partitioning — zero per-round exchanges with
    ``broadcast_labels`` (set False for graphs whose node set exceeds
    executor memory; rounds then shuffle on the join key). Lineage is
    truncated every _CKPT_CADENCE rounds like pagerank. The final
    community-size rollup is one extra label-sized groupBy + join.
    """
    if iters < 1:
        raise ValueError(f"label_propagation: iters must be >= 1, got {iters}")
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    e = edges.select("src", "dst", w.alias("__w__"))
    sym = persist(
        e.union(
            e.select(
                F.col("dst").alias("src"),
                F.col("src").alias("dst"),
                "__w__",
            )
        ).repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "src"
        )
    )
    from pyspark.sql import Window

    hint = F.broadcast if broadcast_labels else (lambda df: df)
    labels, ckpt = truncate_round(
        sym.select("src").distinct().select(
            F.col("src").alias("node"), F.col("src").alias("community")
        ),
        None,
    )
    argmax = Window.partitionBy("src").orderBy(
        F.col("__tw__").desc(), F.col("community").asc()
    )
    for it in range(iters):
        nb = sym.join(
            hint(labels), sym["dst"] == labels["node"]
        ).select("src", "community", "__w__")
        labels = (
            nb.groupBy("src", "community")
            .agg(F.sum("__w__").alias("__tw__"))
            .withColumn("__rn__", F.row_number().over(argmax))
            .filter(F.col("__rn__") == 1)
            .select(F.col("src").alias("node"), "community")
        )
        if it % _CKPT_CADENCE == _CKPT_CADENCE - 1 or it == iters - 1:
            labels, ckpt = truncate_round(labels, ckpt)
    sizes = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    out = labels.join(sizes, "community").select(
        "node", "community", "community_size"
    )
    own_paths(out, [ckpt])
    return out


def k_core(
    edges: DataFrame,
    k: int = 3,
    max_rounds: int = 8,
) -> DataFrame:
    """K-core decomposition by iterative peeling (Seidman 1983 /
    Batagelj–Zaveršnik): repeatedly delete nodes with degree < k until
    none remain — the surviving subgraph is the k-core, the standard
    "dense engaged backbone" extraction (spam rings, core catalog items,
    tightly-coupled near-dup families) that degree alone cannot find
    (a degree-k node hanging off a chain is NOT in the k-core).

    Emits one row per node of the symmetric closure: (node, degree,
    in_kcore, core_degree) — degree in the full graph, membership after
    peeling, and the degree within the surviving subgraph (NULL for
    peeled nodes). Peeling is monotone, so the fixed ``max_rounds`` cap
    is safe: extra rounds are no-ops once stable, and an oracle
    replaying exactly ``max_rounds`` rounds matches an early-exited run
    bit-for-bit. Each round's survivor set is integer-exact — no
    tie-breaks needed (deletion is simultaneous, the Batagelj
    synchronous variant).

    100 TB shape: the symmetric edge set is persisted hash-partitioned
    by src; each round is one semi-join of edges against the shrinking
    survivor set (broadcast when it fits), one map-side-combined degree
    groupBy, and a 1-scalar survivor count (the early-exit probe, the
    tol_scaled convention); lineage truncated per round."""
    if k < 1:
        raise ValueError(f"k_core: k must be >= 1, got {k}")
    if max_rounds < 1:
        raise ValueError(f"k_core: max_rounds must be >= 1, got {max_rounds}")
    sym = persist(
        _directed(edges.select("src", "dst")).repartition(
            edges.sparkSession.sparkContext.defaultParallelism, "src"
        )
    )
    full_deg = persist(
        sym.groupBy("src").agg(F.count(F.lit(1)).alias("degree"))
    )
    alive = full_deg.select("src")
    n_alive = alive.count()
    core_deg = full_deg.select("src", F.col("degree").alias("core_degree"))
    ckpt = None
    for _ in range(max_rounds):
        kept_edges = sym.join(
            F.broadcast(alive.select(F.col("src").alias("dst"))), "dst"
        ).join(F.broadcast(alive), "src")
        core_deg = kept_edges.groupBy("src").agg(
            F.count(F.lit(1)).alias("core_degree")
        )
        # prev-handle handoff: round r's survivor set is superseded the
        # moment round r+1's is materialized — truncate_round frees the
        # previous round only after materializing the new one. The LAST
        # round backs `alive` through the final recomputation, so it is
        # handed to the output for release with it.
        new_alive, ckpt = truncate_round(
            core_deg.filter(F.col("core_degree") >= k).select("src"), ckpt
        )
        n_new = new_alive.count()
        alive = new_alive
        if n_new == n_alive or n_new == 0:
            n_alive = n_new
            break
        n_alive = n_new
    survivors = (
        sym.join(F.broadcast(alive.select(F.col("src").alias("dst"))), "dst")
        .join(F.broadcast(alive), "src")
        .groupBy("src")
        .agg(F.count(F.lit(1)).alias("core_degree"))
    )
    out = (
        full_deg.join(survivors, "src", "left")
        .select(
            F.col("src").alias("node"),
            "degree",
            F.col("core_degree").isNotNull().alias("in_kcore"),
            "core_degree",
        )
    )
    own_paths(out, [ckpt])
    return out


def _truncate_probe(
    ranks: DataFrame,
    prev: DataFrame,
    ckpt: Handle,
    tol_scaled: int | None,
) -> tuple[DataFrame, Handle, bool]:
    """Close a walk segment: truncate lineage, and when tol-gated also
    probe convergence — computing the segment exactly ONCE. Without a
    tolerance the checkpoint stays lazy (eager=False: zero jobs during
    plan construction). With one, the segment is persisted transiently
    so the delta probe's collect materializes it and the (eager)
    checkpoint reads the cache instead of recomputing the 2-round plan
    — previously the probe and the lazy checkpoint each computed it.
    Probe-before-truncate also keeps ``prev`` readable: truncate_round
    frees it only after the probe has read it."""
    if tol_scaled is None:
        ranks, ckpt = truncate_round(ranks, ckpt, eager=False)
        return ranks, ckpt, False
    cached = ranks.persist()
    converged = _delta_below(cached, prev, tol_scaled)
    ranks, ckpt = truncate_round(cached, ckpt)
    cached.unpersist()
    return ranks, ckpt, converged


def _delta_below(ranks: DataFrame, prev: DataFrame, tol_scaled: int) -> bool:
    """Convergence probe: is ``max |rank - prev rank|`` ≤ tol? One
    node-sized equi-join + scalar max — the bounded driver-side collect
    of the tol-gated walks. ``prev`` is the last CHECKPOINT's ranks, so
    the delta spans the (≤2) rounds since the previous check."""
    row = (
        ranks.join(
            prev.select(F.col("node"), F.col("rank").alias("__pr__")), "node"
        )
        .agg(F.max(F.abs(F.col("rank") - F.col("__pr__"))).alias("d"))
        .collect()[0]
    )
    return row["d"] is not None and row["d"] <= tol_scaled


def triangle_counts(edges: DataFrame, round_digits: int = 6) -> DataFrame:
    """(node, degree, tri_count, clustering_coeff) per node of the
    undirected unique edge set ``edges`` (src < dst).

    Ordered-wedge enumeration: a triangle a<b<c is found exactly once,
    as wedge (a→b, b→c) closed by edge (a, c). Per-node counts credit
    all three corners via one union of the three corner projections —
    no row is ever counted from an unordered duplicate. The local
    clustering coefficient divides the exact integers
    ``2·tri / (deg·(deg-1))`` and rounds to ``round_digits`` in both
    engines (the lift convention of operators/basket.py).
    """
    e = persist(edges.select("src", "dst"))
    deg = (
        _directed(e)
        .groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e2 = e.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    wedges = e.select(F.col("src").alias("a"), F.col("dst").alias("b")).join(
        e2, "b"
    )
    # persisted: the corner union below projects tris THREE times, and
    # union branches are independent subtrees — unpersisted, each branch
    # re-runs the whole wedge+closure join (measured 3x the 67-task join
    # stages and ~5s of first-plan analysis on the tripled tree at
    # sf0.1). Cached, the join runs once and the plan carries one
    # InMemoryRelation; |tris| is three longs per triangle.
    tris = persist(
        wedges.join(
            e.select(F.col("src").alias("a"), F.col("dst").alias("c")),
            ["a", "c"],
        ).select("a", "b", "c")
    )
    corners = (
        tris.select(F.col("a").alias("node"))
        .union(tris.select(F.col("b").alias("node")))
        .union(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("tri_count"))
    )
    return (
        deg.join(corners, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("tri_count"), F.lit(0)).alias("tri_count"),
        )
        .withColumn(
            "clustering_coeff",
            F.when(
                F.col("degree") >= 2,
                F.round(
                    F.lit(2.0)
                    * F.col("tri_count")
                    / (F.col("degree") * (F.col("degree") - F.lit(1))),
                    round_digits,
                ),
            ).otherwise(F.lit(0.0)),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seed_nodes: DataFrame,
    iters: int = 8,
    scale: int = 10**12,
    damp_num: int = 17,
    damp_den: int = 20,
    weight_col: str | None = None,
    broadcast_ranks: bool = True,
    tol_scaled: int | None = None,
) -> DataFrame:
    """Personalized (seeded, optionally edge-weighted) PageRank: random
    walk with restart INTO ``seed_nodes`` only — the related-items /
    recommendation primitive ("given these anchor products, which other
    products does the co-purchase graph pull toward them").

    Same fixed-point integer contract as :func:`pagerank`; the two
    generalizations, both still exact:

    - teleport mass goes only to seeds: ``tp(v) = base div |seeds|``
      for seeds, 0 otherwise (``base = scale*(dd-dn) div dd``), and the
      walk starts at the seeds (``r0 = scale div |seeds|`` on seeds).
      ``seed_nodes`` is a DataFrame with a ``node`` column — never a
      collected driver list — intersected with the graph's node set
      before counting.
    - with ``weight_col``, a node's damped mass splits across out-edges
      proportional to INTEGER edge weights, divided per edge:
      ``contribution(e) = (damped(src) * w(e)) div W(src)`` with
      ``W(src) = Σ w`` — floor-exact in any engine. (``damped ≤ scale``
      and integer weights keep the product far below BIGINT range for
      any real weight scale.)

    Execution shape is pagerank's (dst-partitioned edge cache,
    node-sized broadcast per round, exchange-free aggregation); the
    shares frame additionally carries ``W(src)`` so the per-edge
    division happens inside the edge join's projection.

    Output: (node, out_degree, rank_scaled) for every graph node;
    non-seed nodes unreachable from a seed rank 0 + nothing = exactly 0.
    ``tol_scaled`` adds the same per-checkpoint delta early-exit (and
    ``n_rounds`` output column) as :func:`pagerank`; ``iters`` caps.
    """
    w = (
        F.col(weight_col).cast("long")
        if weight_col is not None
        else F.lit(1).cast("long")
    )
    e = edges.select("src", "dst", w.alias("w"))
    sym = persist(
        e.union(
            e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), "w"
            )
        ).repartition(edges.sparkSession.sparkContext.defaultParallelism, "dst")
    )
    deg = persist(
        sym.groupBy("src").agg(
            F.count(F.lit(1)).alias("outdeg"),
            F.sum("w").alias("wout"),
        )
    )
    seeds = persist(
        deg.select("src")
        .join(
            F.broadcast(seed_nodes.select(F.col("node").alias("src")).distinct()),
            "src",
        )
        .select(F.col("src").alias("node"), F.lit(True).alias("__seed__"))
    )
    # An empty post-intersection seed set (every seed filtered out of
    # the graph, e.g. by min_support) would make every teleport/initial
    # term CASE-miss and the walk return all-zero ranks with no
    # diagnostic. The seeds frame is persisted and at most |seed_nodes|
    # rows, so the eager guard count is a trivial job.
    if seeds.count() == 0:
        raise ValueError(
            "personalized_pagerank: no seed node exists in the graph "
            "(seed set is empty after intersecting with the edge set); "
            "check the seed ids against the graph's min_support/"
            "max_basket_items filters"
        )
    ns = F.broadcast(seeds.select(F.count(F.lit(1)).alias("__ns__")))
    base = f"(CAST({scale} AS BIGINT) * {damp_den - damp_num} div {damp_den})"
    seed_flag = F.col("__seed__").isNotNull()
    # Per-node walk constants (teleport mass, initial rank, degrees)
    # materialized ONCE (r13) — same restructure as pagerank: the seed
    # broadcast join + seed-count crossJoin + deg⋈ranks join previously
    # re-planned and re-executed at every round's checkpoint
    # materialization. With wout carried inside the ranks frame,
    # `shares` is a pure projection; outdeg rides along for the final
    # output. Same integer expressions — values unchanged.
    tpf = persist(
        deg.select(F.col("src").alias("node"), "outdeg", "wout")
        .join(F.broadcast(seeds), "node", "left")
        .crossJoin(ns)
        .select(
            "node",
            F.when(seed_flag, F.expr(f"{base} div __ns__"))
            .otherwise(F.lit(0).cast("long"))
            .alias("__tp__"),
            F.when(seed_flag, F.expr(f"CAST({scale} AS BIGINT) div __ns__"))
            .otherwise(F.lit(0).cast("long"))
            .alias("__r0__"),
            "outdeg",
            "wout",
        )
    )
    ranks = tpf.select("node", F.col("__r0__").alias("rank"), "outdeg", "wout")
    ckpt: Handle = ()  # iters=0: no round, nothing to own
    hint = F.broadcast if broadcast_ranks else (lambda df: df)
    prev = ranks
    realized = iters
    for it in range(iters):
        shares = ranks.select(
            F.col("node").alias("src"),
            F.expr(f"rank * {damp_num} div {damp_den}").alias("damped"),
            "wout",
        )
        contrib = (
            sym.join(hint(shares), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("damped * w div wout").alias("part"),
            )
            .groupBy("node")
            .agg(F.sum("part").alias("contrib"))
        )
        ranks = (
            tpf.join(contrib, "node", "left")
            .select(
                "node",
                (F.col("__tp__") + F.coalesce(F.col("contrib"), F.lit(0))).alias(
                    "rank"
                ),
                "outdeg",
                "wout",
            )
        )
        if it % _CKPT_CADENCE == _CKPT_CADENCE - 1 or it == iters - 1:
            ranks, ckpt, converged = _truncate_probe(
                ranks, prev, ckpt, tol_scaled
            )
            prev = ranks
            if converged:
                realized = it + 1
                break
    out = ranks.select(
        "node", F.col("outdeg").alias("out_degree"), F.col("rank").alias("rank_scaled")
    )
    if tol_scaled is not None:
        out = out.withColumn("n_rounds", F.lit(realized))
    own_paths(out, [ckpt])
    return out
