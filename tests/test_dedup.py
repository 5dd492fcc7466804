"""Dedup operator unit tests on hand-crafted corpora with known answers."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from topnotch_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    fingerprint_dedup,
    minhash_lsh_dedup,
    ngram_jaccard_pairs,
    shingle_arrays,
    simhash_dedup,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),          # exact dup of 1
        (3, "dog lazy the over jumps fox brown quick the"),          # word-shuffle of 1
        (4, "the quick brown fox jumps over the lazy cat today"),    # near-dup of 1
        (5, "completely different content about databases and spark"),
        (6, "tiny"),                                                  # < n tokens
        (7, ""),                                                      # empty
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_exact_dedup(spark, docs):
    out = {r["doc_id"]: r for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["group_size"] == 2 and out[2]["group_size"] == 2
    assert out[1]["keep"] is True and out[2]["keep"] is False  # min id kept
    assert out[3]["group_size"] == 1 and out[3]["keep"] is True
    assert len(out) == 7  # every row classified, none dropped


def test_fingerprint_dedup_catches_word_shuffle(spark, docs):
    out = {r["doc_id"]: r for r in fingerprint_dedup(docs, "doc_id", "text").collect()}
    # 1, 2 and 3 share the sorted-distinct-token fingerprint
    assert out[1]["dup_key"] == out[2]["dup_key"] == out[3]["dup_key"]
    assert out[1]["group_size"] == 3
    assert [out[i]["keep"] for i in (1, 2, 3)] == [True, False, False]


def test_shingle_arrays_edges(spark, docs):
    arrs = {r["id"]: r["shs"] for r in shingle_arrays(docs, "doc_id", "text", 3).collect()}
    assert 6 not in arrs and 7 not in arrs           # too short: dropped
    assert arrs[1][0] == "the quick brown"           # order preserved
    assert len(arrs[1]) == 7                         # 9 tokens -> 7 trigrams
    assert len(set(arrs[1])) == len(arrs[1])         # distinct


def test_ngram_jaccard_exact_value(spark, docs):
    # doc1 trigram set vs doc4: doc1 has 7, doc4 (10 tokens) has 8,
    # shared = 6 ("over the lazy" diverges at the tail) -> J = 6/9
    pairs = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, shingle_n=3
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 4)] == pytest.approx(6 / 9)
    assert (1, 5) not in pairs


def test_minhash_finds_true_dups_and_verifies(spark, docs):
    pairs = {
        (r["id_1"], r["id_2"]): r["jaccard"]
        for r in minhash_lsh_dedup(
            docs, "doc_id", "text", num_hashes=16, bands=4,
            threshold=0.5, shingle_n=3,
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0          # identical docs always collide
    for (a, b), j in pairs.items():
        assert j >= 0.5                  # verification threshold enforced


def test_simhash_identical_docs_zero_hamming(spark, docs):
    out = {
        (r["id_1"], r["id_2"]): r["hamming"]
        for r in simhash_dedup(
            docs, "doc_id", "text", bits=32, band_bits=8, max_hamming=3
        ).collect()
    }
    assert out[(1, 2)] == 0
    assert all(h <= 3 for h in out.values())


def test_embedding_near_dups(spark):
    v = [1.0] + [0.0] * 7
    v_close = [0.99] + [0.01] * 7
    v_far = [0.0] * 7 + [1.0]
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, v_close), (4, v_far)],
        "vec_id int, embedding array<double>",
    )
    pairs = {
        (r["id_1"], r["id_2"]): r["cos_sim"]
        for r in embedding_near_dups(
            df, "vec_id", "embedding", threshold=0.9, n_planes=2, dim=8
        ).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.99
    assert all(b != 4 and a != 4 for a, b in pairs)  # orthogonal vector excluded


def test_exact_dedup_null_text_not_dropped(spark):
    """NULL keys must group together and survive (window semantics),
    not vanish through an equi-join."""
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, None)], "doc_id int, text string"
    )
    out = {r["doc_id"]: r for r in exact_dedup(df, "doc_id", "text").collect()}
    assert len(out) == 3
    assert out[2]["group_size"] == 2 and out[3]["group_size"] == 2
    assert out[2]["keep"] is True and out[3]["keep"] is False


def test_ngram_jaccard_viral_shingle_valve(spark):
    """A shingle shared by every document must not explode the self-join:
    with max_shingle_df capped below the corpus size, the viral shingle is
    dropped from the JOIN (candidate rows bounded) while sizes still count
    it (conservative Jaccard). Default cap is on (1000)."""
    viral = "breaking news update tonight"
    rows = [(i, f"{viral} story number {i} detail {i}") for i in range(1, 41)]
    rows.append((100, "breaking news update tonight story number 1 detail 1"))
    df = spark.createDataFrame(rows, "doc_id int, text string")

    # Uncapped: the viral 4-token window makes every doc pair a candidate.
    exact = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.05, shingle_n=4, max_shingle_df=None
    )
    # Capped at 5: shingles in >5 docs leave the join; only true near-dups
    # (1, 100) still share rare shingles ("story number 1 detail").
    capped = ngram_jaccard_pairs(
        df, "doc_id", "text", threshold=0.05, shingle_n=4, max_shingle_df=5
    )
    exact_pairs = {(r["id_1"], r["id_2"]) for r in exact.collect()}
    capped_rows = {(r["id_1"], r["id_2"]): r["jaccard"] for r in capped.collect()}

    assert len(exact_pairs) > 100          # quadratic blow-up demonstrated
    assert set(capped_rows) == {(1, 100)}  # candidates bounded to real dup
    assert capped_rows[(1, 100)] <= 1.0    # conservative (join-only drop)

    # The candidate join itself is bounded, not just the final threshold cut:
    # count (id_1, id_2) candidates before the Jaccard filter via df stats.
    from topnotch_spark.operators.dedup import shingle_rows

    sh = shingle_rows(df, "doc_id", "text", 4)
    dfreq = sh.groupBy("sh").count()
    joinable = dfreq.filter(F.col("count") <= 5)
    n_candidate_rows = (
        sh.join(joinable.select("sh"), "sh")
        .groupBy("sh").count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .collect()[0][0]
    )
    assert n_candidate_rows < 50  # vs ~40*41/2 * n_shingles uncapped


def test_dedup_persist_lifecycle(spark):
    """Two corpora through minhash/jaccard/simhash without clearCache():
    dedup_scope releases every tracked intermediate, storage returns to
    baseline."""
    from topnotch_spark.runtime import (
        dedup_scope,
        snapshot_intermediates,
        unpersist_intermediates,
    )

    import time

    unpersist_intermediates()  # clean slate

    def cached_rdd_count():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    def settled_count(at_most: int) -> int:
        # unpersist is asynchronous: both a previous test's release and
        # our own may still be draining — poll briefly before judging
        for _ in range(50):
            c = cached_rdd_count()
            if c <= at_most:
                return c
            time.sleep(0.1)
        return cached_rdd_count()

    base = settled_count(0)
    for corpus in range(2):
        rows = [
            (i, f"corpus {corpus} document {i} alpha beta gamma delta")
            for i in range(1, 30)
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        with dedup_scope():
            minhash_lsh_dedup(df, "doc_id", "text").count()
            ngram_jaccard_pairs(df, "doc_id", "text").count()
            simhash_dedup(df, "doc_id", "text").count()
            assert len(snapshot_intermediates()) >= 3
        assert not snapshot_intermediates()
    assert settled_count(base) <= base


def test_release_new_intermediates_identity_scoping(spark):
    from topnotch_spark import runtime

    runtime.unpersist_intermediates()  # clean slate
    a = runtime.persist(spark.range(3).toDF("a"))
    snap = runtime.snapshot_intermediates()
    runtime.persist(spark.range(4).toDF("b"))
    # interleaved foreign entry AFTER the snapshot of another owner
    runtime.persist(spark.range(5).toDF("c"))
    # snapshot-scoped release frees exactly the post-snapshot entries,
    # preserving the pre-existing one
    assert runtime.release_new_intermediates(snap) == 2
    assert runtime.snapshot_intermediates() == snap
    assert a.storageLevel != StorageLevel.NONE
    assert runtime.unpersist_intermediates() == 1


def test_containment_directed_catches_subset_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment(short->long)
    is 1.0 while Jaccard stays below any useful threshold."""
    from topnotch_spark.operators.dedup import containment_pairs, ngram_jaccard_pairs

    short = "alpha beta gamma delta epsilon"
    long = (
        "intro words here " + short + " then a very long tail "
        + " ".join(f"tok{i}" for i in range(40))
    )
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    pairs = {
        (r["id_1"], r["id_2"]): r
        for r in containment_pairs(
            df, "doc_id", "text", threshold=0.5, shingle_n=5
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)]["containment"] == 1.0
    # the reverse direction is far below threshold (long is not in short)
    assert (2, 1) not in pairs
    # Jaccard misses the subset entirely at the same threshold
    assert (
        ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.5, shingle_n=5).count()
        == 0
    )


def test_containment_valve_drops_hot_shingle(spark):
    from topnotch_spark.operators.dedup import containment_pairs

    hot = "one two three four five"
    df = spark.createDataFrame(
        [(i, hot) for i in range(5)], "doc_id long, text string"
    )
    # every doc shares the single shingle; df 5 > cap 3 -> no pairs
    assert containment_pairs(
        df, "doc_id", "text", threshold=0.1, shingle_n=5, max_shingle_df=3
    ).count() == 0
    # without the valve all 20 directed pairs surface at containment 1.0
    assert containment_pairs(
        df, "doc_id", "text", threshold=0.99, shingle_n=5, max_shingle_df=None
    ).count() == 20


def test_dedup_rate_by_group_cross_group_dups(spark):
    from topnotch_spark.operators.dedup import dedup_rate_by_group

    # "same" appears in both sources: keeper is the global min doc_id,
    # so s2's copy counts as a dup against s1's keeper
    df = spark.createDataFrame(
        [(1, "same", "s1"), (2, "same", "s2"), (3, "uniq", "s2")],
        "doc_id int, text string, source string",
    )
    out = {r["source"]: (r["n_docs"], r["n_keepers"], r["dup_rate"])
           for r in dedup_rate_by_group(df, "doc_id", "text", "source").collect()}
    assert out["s1"] == (1, 1, 0.0)
    assert out["s2"] == (2, 1, 0.5)


# ---- duplicated-span detection (Lee et al. span-granular dedup) -----------

def test_duplicate_spans_finds_copied_window(spark):
    from topnotch_spark.operators.dedup import dedup_scope, duplicate_spans

    # the 4-token window "x y z w" is copied into two otherwise-distinct
    # docs at different offsets; doc 3 shares no 4-token window
    df = spark.createDataFrame(
        [
            (1, "a b c x y z w d"),
            (2, "x y z w q r s t"),
            (3, "totally different words here now"),
        ],
        "doc_id long, text string",
    )
    with dedup_scope():
        rows = duplicate_spans(df, "doc_id", "text", span_tokens=4).collect()
    got = {(r["id"], r["pos"]) for r in rows}
    assert got == {(1, 3), (2, 0)}
    for r in rows:
        assert (r["n_occurrences"], r["n_docs"]) == (2, 2)


def test_duplicate_spans_within_doc_repetition(spark):
    from topnotch_spark.operators.dedup import dedup_scope, duplicate_spans

    # "p q p q p q": the window "p q" occurs 3x within ONE doc
    df = spark.createDataFrame([(1, "p q p q p q")], "doc_id long, text string")
    with dedup_scope():
        rows = duplicate_spans(df, "doc_id", "text", span_tokens=2).collect()
    by_pos = {r["pos"]: (r["n_occurrences"], r["n_docs"]) for r in rows
              if r["pos"] in (0, 2, 4)}
    assert by_pos == {0: (3, 1), 2: (3, 1), 4: (3, 1)}


def test_duplicate_spans_short_docs_no_rows(spark):
    from topnotch_spark.operators.dedup import dedup_scope, duplicate_spans

    df = spark.createDataFrame(
        [(1, "one two"), (2, "one two")], "doc_id long, text string"
    )
    with dedup_scope():
        # 5-token spans over 2-token docs: nothing to report, no crash
        assert duplicate_spans(df, "doc_id", "text", span_tokens=5).count() == 0


def test_semantic_dedup_prunes_within_cluster(spark):
    """Two tight groups in opposite half-spaces: seeded 2-cluster
    assignment separates them; within each cluster the higher-id twin is
    pruned, the singleton survives."""
    from topnotch_spark.operators.dedup import dedup_scope, semantic_dedup

    a = [1.0, 0.0, 0.0, 0.0]
    a2 = [0.99, 0.01, 0.0, 0.0]        # near-dup of a
    b = [0.0, 0.0, 0.0, 1.0]
    b2 = [0.0, 0.0, 0.01, 0.99]        # near-dup of b
    lone = [0.0, 1.0, 0.0, 0.0]        # same cluster as a, not a dup
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, a2), (4, b2), (5, lone)],
        "vec_id int, embedding array<double>",
    )
    with dedup_scope():
        out = {
            r["id"]: (r["centroid_id"], r["keep"])
            for r in semantic_dedup(
                df, "vec_id", "embedding", n_clusters=2, threshold=0.9
            ).collect()
        }
    assert len(out) == 5
    # seeds are ids 1 and 2 -> centroid 1 = a-side, centroid 2 = b-side
    assert out[1] == (1, True) and out[3] == (1, False)
    assert out[2] == (2, True) and out[4] == (2, False)
    assert out[5] == (1, True)  # orthogonal-ish: closest to a, kept


def test_semantic_dedup_keeps_all_when_threshold_high(spark):
    from topnotch_spark.operators.dedup import dedup_scope, semantic_dedup

    df = spark.createDataFrame(
        [(i, [float(i == j) for j in range(4)]) for i in range(4)],
        "vec_id int, embedding array<double>",
    )
    with dedup_scope():
        rows = semantic_dedup(
            df, "vec_id", "embedding", n_clusters=2, threshold=0.99
        ).collect()
    assert all(r["keep"] for r in rows)


def test_dedup_against_index(spark):
    from topnotch_spark.operators.dedup import (
        build_dedup_index,
        dedup_against_index,
    )

    old = spark.createDataFrame(
        [(1, "seen before"), (2, "also seen")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(10, "seen before"), (11, "fresh"), (12, "fresh"), (13, None)],
        "doc_id long, text string",
    )
    idx = build_dedup_index(old, "doc_id", "text")
    out = {
        r["doc_id"]: r
        for r in dedup_against_index(new, idx, "doc_id", "text").collect()
    }
    assert out[10]["in_index"] and out[10]["dup_of"] == 1 and not out[10]["keep"]
    assert out[11]["keep"] and not out[11]["in_index"]
    assert not out[12]["keep"]  # within-batch dup of 11
    assert out[13]["keep"]      # NULL text = empty, novel content


def test_build_dedup_index_min_id_per_key(spark):
    from topnotch_spark.operators.dedup import build_dedup_index

    df = spark.createDataFrame(
        [(5, "x"), (3, "x"), (7, "y")], "doc_id long, text string"
    )
    idx = {r["index_id"] for r in build_dedup_index(df, "doc_id", "text").collect()}
    assert idx == {3, 7}


def test_minhash_recall_report(spark):
    """Recall is 1.0 when banding catches every true pair (exact dups),
    and the report shape is a single row with exact counts."""
    from topnotch_spark.operators.dedup import minhash_recall

    texts = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        (3, "totally different words nothing shared here at all"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    row = minhash_recall(
        df, "doc_id", "text", threshold=0.5, shingle_n=3
    ).collect()[0]
    assert row["n_exact_pairs"] == 1
    assert row["n_found_pairs"] == 1  # identical docs share every band
    assert row["recall"] == 1.0


def test_minhash_recall_empty_corpus_null_recall(spark):
    from topnotch_spark.operators.dedup import minhash_recall

    df = spark.createDataFrame(
        [(1, "one doc only here")], "doc_id long, text string"
    )
    row = minhash_recall(df, "doc_id", "text").collect()[0]
    assert row["n_exact_pairs"] == 0
    assert row["recall"] is None  # 0/0 -> NULL, not a crash
