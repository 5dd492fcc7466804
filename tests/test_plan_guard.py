"""Plan-shape regression guard over the whole batch catalog.

A correctness gate can stay green while a plan silently degrades into a
shape that dies at 100 TB. This guard analyzes (never executes) every
batch catalog query's physical plan and bans the one shape that is
always fatal at scale: a non-broadcast ``CartesianProduct``. Broadcast
nested-loop joins against 1-row/k-row bounds frames are legitimate and
remain allowed — Spark only emits ``CartesianProduct`` when BOTH sides
are big (or broadcast was impossible), which is exactly the regression
this test exists to catch.

Streaming queries are skipped (starting a stream executes it; their
per-micro-batch plans are audited in SCALE.md §4 and their semantics by
test_streaming.py).
"""

from __future__ import annotations

import contextlib
import io

import pytest

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"

QUERIES = entry.queries()
BATCH_QUERIES = sorted(
    name for name in QUERIES if not name.startswith("streaming_")
)


# Each query is built once and its frame shared by the four guards below:
# the module-scoped parameter groups the four tests of one query together,
# and the frame is dropped when the next query starts.
guarded = pytest.mark.parametrize("name", BATCH_QUERIES, scope="module")


@pytest.fixture(scope="module")
def built(spark, name):
    return QUERIES[name](spark, SF)


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@guarded
def test_no_cartesian_product(built, name):
    plan = _plan(built)
    assert "CartesianProduct" not in plan, (
        f"{name}: plan degraded to a CartesianProduct — at 100 TB this is "
        f"|left| x |right| comparisons. Block the join (bucket/band/grid) "
        f"or broadcast the small side.\n{plan[:2000]}"
    )


# --- physical-node guards (r6, VERDICT r5 #6) -------------------------------
#
# The CartesianProduct ban catches the always-fatal shape; these two lock in
# the audited state of the two "fine today, fatal if regressed" shapes:
# partition-less WindowExec (single-task global sort of the whole input) and
# BroadcastNestedLoopJoin (|build| x |stream| compares — fine only while the
# broadcast side is a bounds/seed frame of ~1..k rows).


def _walk(jnode):
    """Pre-order traversal of a physical plan, descending through the AQE
    wrapper and into cached-relation plans (bounds frames often sit behind
    an InMemoryTableScan)."""
    sn = jnode.getClass().getSimpleName()
    yield sn, jnode
    if sn == "AdaptiveSparkPlanExec":
        yield from _walk(jnode.inputPlan())
        return
    if sn == "InMemoryTableScanExec":
        yield from _walk(jnode.relation().cachedPlan())
    for i in range(jnode.children().size()):
        yield from _walk(jnode.children().apply(i))


# Partition-less windows allowed ONLY where the window's input is bounded
# by construction (each entry documents the bound):
GLOBAL_WINDOW_BOUNDED = {
    "key_skew_orders": "rank over the k=10 rows surviving TakeOrdered",
    "pack_token_shards": (
        "explicit global_ordering=True packing entry; "
        "pack_token_shards_partitioned is the scale path"
    ),
    "drift_ks_totalprice": (
        "exact-CDF path; operator auto-switches to the binned grid "
        "above 250k distinct values"
    ),
    "drift_ks_binned": "cumulative sums over the <=n_buckets binned grid",
    "drift_wasserstein_totalprice": (
        "cumulative flows over the n_buckets=32 spine-joined grid"
    ),
    "drift_orders_totalprice": (
        "exact histogram-CDF path behind the 250k-distinct valve"
    ),
    "drift_chi2_priority": (
        "window over the <=|categories| contingency frame"
    ),
    "quantile_sketch_accuracy": (
        "rank over the k=256-row TakeOrdered KMV sample"
    ),
    "similarity_pq_recall": (
        "code_id rank over the n_codes=16 rows surviving TakeOrdered "
        "(the seeded codebook)"
    ),
    "similarity_ivfpq_recall": (
        "code_id/centroid_id ranks over the n_codes=16 / n_centroids=16 "
        "rows surviving TakeOrdered (seeded codebook + seeded IVF index)"
    ),
    "zipf_fit_docs": (
        "rank over the vocab_k=200 rows surviving TakeOrdered"
    ),
    "heaps_fit_docs": (
        "cumulative sums over the n_checkpoints=10 spine-joined cells"
    ),
    "vocab_coverage_docs": (
        "rank + cumulative sum over the 2^10 rows surviving TakeOrdered"
    ),
    "bpe_top_merges_docs": (
        "rank over the k=50 rows surviving TakeOrdered"
    ),
    "event_paths_top": "rank over the k=20 rows surviving TakeOrdered",
    "unigram_lm_vocab_docs": (
        "final rank over the trained vocab frame — bounded by "
        "vocab_size + |alphabet| rows by construction (M-step prune)"
    ),
    "mixture_plan_sources": (
        "waterfilling prefix/suffix sums over the per-source rollup — "
        "|sources| rows by construction (one row per corpus source)"
    ),
    "unigram_segment_docs": (
        "embeds unigram_lm_vocab's final rank window — bounded by "
        "vocab_size + |alphabet| rows (same bound as "
        "unigram_lm_vocab_docs)"
    ),
    "streaming_event_paths": (
        "rank over the k=20 rows surviving TakeOrdered"
    ),
    "bpe_merge_sequence_docs": (
        "per-round top-1 TakeOrdered frames; every global window input "
        "is a single row"
    ),
    "token_rank_shift_langs": (
        "ranks over the vocab_k=200-row TakeOrdered leaderboards and "
        "the k=20-row climber list"
    ),
    "collocations_docs": "rank over the k=20 rows surviving TakeOrdered",
}

# BNLJ broadcast sides that are row-bounded by plan shape: an ungrouped
# aggregate (1 row), a limit, a literal local scan, or a driver-defined
# Range generator.
_BOUNDED_BUILD_KINDS = {
    "TakeOrderedAndProjectExec",
    "GlobalLimitExec",
    "LocalLimitExec",
    "CollectLimitExec",
    "LocalTableScanExec",
    "RangeExec",
}

# Queries whose BNLJ broadcast side is a SEMANTICALLY small frame the plan
# cannot prove bounded (a filtered scan of seed/query rows). Each entry
# documents why the frame is small:
BNLJ_SMALL_FRAME = {
    "similarity_topk": "query frame = vec_id < 5 (5 query vectors)",
    "similarity_ann": "query frame = vec_id < 5",
    "similarity_ann_recall": "query frame = vec_id < 5, three indexes",
    "similarity_ivf": "query frame = vec_id < 5; centroid seeds TakeOrdered",
    "dedup_semantic": "centroid seed frame = deterministic k-row sample",
    "dedup_semantic_trained": (
        "centroids frame = k-row driver literal (kmeans_centroids_exact "
        "returns a createDataFrame of the k x dim mean matrix; "
        "ExistingRDD scan, bounded by construction)"
    ),
    "dedup_incremental_semantic": (
        "batch-routing crossJoin broadcasts the same k-row "
        "kmeans_centroids_exact driver literal as dedup_semantic_trained "
        "(ExistingRDD scan, bounded by construction); the member join "
        "is a hash equi-join on centroid_id, not a BNLJ"
    ),
    "decontaminate_embedding": "benchmark frame = bounded holdout slice",
    "retrieval_rrf_fused": (
        "dense run's query frame = 3 fixed BM25 query ids (vec_id isin)"
    ),
    "contrastive_pairs_mined": "anchor frame = vec_id < 8 (8 anchors)",
    "retrieval_mmr_topk": (
        "query frame = vec_id < 5 (the similarity_topk convention); "
        "previously invisible to this guard because the candidate frame "
        "was eagerly checkpointed before r13's single-pass greedy fold"
    ),
    "multimodal_phash_recall": (
        "exact side broadcasts the (id, 64-char hash) SIGNATURE table "
        "only — the documented exact-recall baseline (minhash_recall "
        "convention: sample at 100 TB); blobs never enter the join"
    ),
    "similarity_quantize_recall": (
        "both sides broadcast the vec_id < 5 query frame (the "
        "similarity_topk convention), raw and dequantized"
    ),
    "similarity_pq_recall": (
        "exact side broadcasts the vec_id < 5 query frame (the "
        "similarity_topk convention); the ADC table is "
        "n_queries x m x n_codes rows by construction"
    ),
    "kmv_source_jaccard": (
        "pair spine = distinct(group) x distinct(group) — |sources|^2 "
        "rows, a dimension cross product, never data-sized; every "
        "corpus-sized stage before it is bottom-k bounded"
    ),
    "similarity_ivfpq_recall": (
        "exact grading side broadcasts the vec_id < 5 query frame; the "
        "IVF assignment/probe cross joins broadcast the "
        "n_centroids=16-row seeded centroid frame"
    ),
}


def _bounded_build_side(jchild) -> bool:
    for sn, nd in _walk(jchild):
        if sn in _BOUNDED_BUILD_KINDS:
            return True
        if sn in (
            "HashAggregateExec",
            "ObjectHashAggregateExec",
            "SortAggregateExec",
        ) and nd.groupingExpressions().isEmpty():
            return True
    return False


@guarded
def test_no_unbounded_global_window(built, name):
    df = built
    offenders = [
        sn
        for sn, nd in _walk(df._jdf.queryExecution().executedPlan())
        if sn in ("WindowExec", "WindowGroupLimitExec")
        and nd.partitionSpec().isEmpty()
    ]
    if name in GLOBAL_WINDOW_BOUNDED:
        return  # documented bounded input — allowed
    assert not offenders, (
        f"{name}: partition-less {offenders} — a single-task global sort "
        f"of the whole input at 100 TB. Partition the window, use the "
        f"binned/approx path, or add a documented entry to "
        f"GLOBAL_WINDOW_BOUNDED if its input is bounded by construction."
    )


# --- source-scan guard (r8, VERDICT r7 #3) ----------------------------------
#
# The "recompute the corpus N times" disease: a plan that scans the same
# parquet relation 3+ times with no persisted intermediate re-runs the whole
# upstream subtree per branch. scripts/scan_audit.py counts DISTINCT uncached
# Scan-parquet node ids per relation (InMemoryRelation cached-plan displays
# excluded by node id — they materialize once no matter how many branches
# re-print them); this test runs the same counter over every batch query so
# the bound can't silently regress. Deliberate re-reads live in the audited
# ALLOWED_MULTI allowlist next to the counter.

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
import scan_audit  # noqa: E402


@guarded
def test_source_scans_bounded(built, name):
    if name in scan_audit.ALLOWED_MULTI:
        return  # documented deliberate re-read
    counts = scan_audit.scan_counts(built)
    worst = max(counts.values(), default=0)
    assert worst <= scan_audit.MAX_SCANS, (
        f"{name}: scans a relation {worst}x uncached ({counts}) — at 100 TB "
        f"each extra scan re-reads and re-computes the whole upstream "
        f"subtree. Persist the shared intermediate (dedup._persist) or add "
        f"a documented scan_audit.ALLOWED_MULTI entry."
    )


@guarded
def test_bnlj_broadcasts_bounded_frames(built, name):
    df = built
    for sn, nd in _walk(df._jdf.queryExecution().executedPlan()):
        if sn != "BroadcastNestedLoopJoinExec":
            continue
        child = (
            nd.left() if nd.buildSide().toString() == "BuildLeft" else nd.right()
        )
        if name in BNLJ_SMALL_FRAME:
            continue
        assert _bounded_build_side(child), (
            f"{name}: BroadcastNestedLoopJoin whose broadcast side is not "
            f"row-bounded by plan shape (no ungrouped aggregate, limit, "
            f"local scan, or range on the build side) — at 100 TB this "
            f"broadcasts and nested-loops an unbounded frame. Bound the "
            f"frame or add a documented BNLJ_SMALL_FRAME entry."
        )
