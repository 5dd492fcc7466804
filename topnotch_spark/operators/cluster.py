"""Connected components over duplicate pairs → dedup clusters.

Near-dup detection (``operators/dedup.py``) emits *pairs*; an actual
dedup pass over a corpus needs *clusters* — "docs {2, 17, 404} are all
the same article, keep exactly one" — i.e. the connected components of
the pair graph. (The reference engine has no graph stage at all; this is
part of the LLM-pipeline extension surface, not a port of
tnengine/TnEngine.scala.)

Algorithm: iterative min-label propagation with pointer jumping.
Every node starts labeled with its own id; each round every node takes
the min of its own label and its neighbors' labels, then jumps one
level (``comp := comp(comp)``, path-halving). The neighbor step is one
hash join (labels into edges on the dst side) + one partial-agg
groupBy; the jump step is one self-join of the label frame — all
shuffle on node id, so successive rounds reuse the same hash
partitioning. The jump makes convergence O(log diameter) instead of
O(diameter) (same bound as the alternating large-star/small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014, without its per-round edge-set rewriting): a
10^6-link pathological chain converges in ~20 rounds, and the default
``max_iter=25`` covers any component a real corpus can produce. A
convergence failure raises rather than silently under-merging.

Scale notes (100 TB):
- ``runtime.truncate_round`` after every round truncates lineage —
  without it the plan doubles per iteration and Catalyst analysis time
  explodes. It takes a local checkpoint, or a parquet roundtrip under a
  checkpoint dir (survives executor loss; a local checkpoint does not),
  and frees the previous round's storage once the new round is
  materialized, so the steady-state footprint is one label frame, not
  O(rounds).
- The label frame is (id, comp): two longs per *node in a dup pair* —
  much smaller than the corpus, since most docs are in no pair.
- Convergence check is a 1-row count per round (bounded driver data).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from topnotch_spark.runtime import own_paths, truncate_round


def connected_components(
    pairs: DataFrame,
    src: str = "id_1",
    dst: str = "id_2",
    max_iter: int = 25,
    jump_after: int = 2,
) -> DataFrame:
    """(id, cluster_id) for every node in ``pairs``; cluster_id = min id
    in the component. Raises if ``max_iter`` rounds don't converge.

    ``jump_after``: pointer jumping starts at that round index — real
    dup graphs (diameter ≤ a few) converge inside the plain rounds and
    never pay the jump join's extra shuffle; an adversarial long chain
    switches to O(log d) halving after the grace rounds. ``0`` jumps
    from the first round."""
    edges = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # symmetric closure: propagate along both directions of each pair.
    # Persisted HASH-PARTITIONED BY "b" — the key EVERY round's
    # neighbor join probes — so the edge-sized side never re-shuffles
    # inside the loop: each round only exchanges the node-sized labels
    # frame. (r13: an explicit "a" repartition was measured a wash —
    # the rounds join on "b" — but the "b" repartition removes the
    # per-round edge exchange AND stops AQE coalescing the tiny local
    # cache to one partition, which serialized every round's join onto
    # a single task at bench scale.)
    sym = (
        edges.union(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .repartition(pairs.sparkSession.sparkContext.defaultParallelism, "b")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # start: own id, tightened by direct neighbors (saves one round)
    labels, ckpt = truncate_round(
        sym.groupBy("a")
        .agg(F.min("b").alias("nbr_min"))
        .select(
            F.col("a").alias("id"),
            F.least(F.col("a"), F.col("nbr_min")).alias("comp"),
        ),
        None,
    )
    try:
        for it in range(max_iter):
            # neighbor minimum this round: comp of b flows to a
            nbr = (
                sym.join(
                    labels.select(
                        F.col("id").alias("b"), F.col("comp").alias("bcomp")
                    ),
                    "b",
                )
                .groupBy("a")
                .agg(F.min("bcomp").alias("nbr_comp"))
            )
            proposed = labels.join(
                nbr.select(F.col("a").alias("id"), "nbr_comp"), "id"
            ).select(
                "id",
                "comp",
                F.least(F.col("comp"), F.col("nbr_comp")).alias("new_comp"),
            )
            if it >= jump_after:
                # pointer jumping (path halving): comp := comp(comp).
                # Labels only ever decrease, and every label IS a node id
                # present in the frame, so the lookup is total; coalesce
                # guards the left-join shape. Turns the remaining rounds
                # from O(diameter) into O(log d) at one extra small
                # shuffle per round — skipped during the grace rounds
                # that already finish every real dup graph.
                jump = labels.select(
                    F.col("id").alias("new_comp"),
                    F.col("comp").alias("jump_comp"),
                )
                proposed = proposed.join(jump, "new_comp", "left").select(
                    "id",
                    "comp",
                    F.least(
                        F.col("new_comp"),
                        F.coalesce(F.col("jump_comp"), F.col("new_comp")),
                    ).alias("new_comp"),
                )
            proposed, ckpt = truncate_round(proposed, ckpt)
            changed = (
                proposed.filter(F.col("new_comp") != F.col("comp")).limit(1).count()
            )
            labels = proposed.select("id", F.col("new_comp").alias("comp"))
            if changed == 0:
                # the returned frame reads the final round's checkpoint:
                # it is freed with the output (runtime.own_paths)
                own_paths(labels, [ckpt])
                return labels
        # the last round is freed with the enclosing scope or plan run
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "pathological chain graph — use more rounds or star contraction"
        )
    finally:
        sym.unpersist()


def keep_best_in_cluster(
    pairs: DataFrame,
    scores: DataFrame,
    score_col: str,
    id_col: str = "id",
    src: str = "id_1",
    dst: str = "id_2",
) -> DataFrame:
    """The full production dedup flow: pairs → components → keep the
    HIGHEST-scoring doc per cluster (not the arbitrary min id) — "of
    these 5 copies, keep the cleanest one".

    ``scores`` maps ``id_col`` → ``score_col`` (e.g. quality_score from
    textqc.quality_scores). Cluster members MISSING from ``scores`` are
    kept in the output with a NULL score and rank LAST (an unscored doc
    must never silently vanish from a dedup report, and must not win
    the keeper slot over a scored one). Ties break on min id, so the
    result is deterministic. One LEFT join (components × scores, both
    ≪ corpus) plus one window over cluster_id."""
    from pyspark.sql import Window

    comps = connected_components(pairs, src, dst).select(
        "id", F.col("comp").alias("cluster_id")
    )
    scored = comps.join(
        scores.select(F.col(id_col).alias("id"), F.col(score_col).alias("__s__")),
        "id",
        "left",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("__s__").desc_nulls_last(), F.col("id").asc()
    )
    return scored.select(
        "id",
        "cluster_id",
        F.col("__s__").alias(score_col),
        (F.row_number().over(w) == 1).alias("keep"),
    )


def dup_clusters(pairs: DataFrame, src: str = "id_1", dst: str = "id_2") -> DataFrame:
    """(id, cluster_id, cluster_size, keep) per clustered doc.

    ``keep`` marks the canonical representative (min id); filtering
    ``~keep`` yields exactly the rows to drop from the corpus. One extra
    window pass over the (small) label frame — partitioned by
    cluster_id, no driver data.
    """
    from pyspark.sql import Window

    comps = connected_components(pairs, src, dst)
    w = Window.partitionBy("cluster_id")
    return comps.select(
        "id",
        F.col("comp").alias("cluster_id"),
    ).select(
        "id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        (F.col("id") == F.col("cluster_id")).alias("keep"),
    )
