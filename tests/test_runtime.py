"""The lifecycle owner, ``topnotch_spark.runtime``: iterative operators
that hand their final checkpoint round to the registry release it with
the scope that created it, a scope releases only what it cached itself,
and ``pinned_conf`` restores what it pinned.
"""

from __future__ import annotations

import os

import pytest
from pyspark.storagelevel import StorageLevel

from topnotch_spark.operators.graph import (
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from topnotch_spark.operators.textqc import (
    unigram_fertility_by_group,
    unigram_lm_vocab,
)
from topnotch_spark.runtime import (
    dedup_scope,
    persist,
    pinned_conf,
    release_new_intermediates,
    snapshot_intermediates,
)

EDGES = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 4), (7, 8)]
DOCS = [
    (0, "a", "the cat sat on the mat"),
    (1, "a", "the cat ate the rat"),
    (2, "b", "a dog sat on a log"),
    (3, "b", "the dog and the cat"),
]


def _edges(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, grp string, text string")


OPS = {
    "pagerank": lambda s: pagerank(_edges(s), iters=4),
    "personalized_pagerank": lambda s: personalized_pagerank(
        _edges(s), s.createDataFrame([(1,)], "node long"), iters=4
    ),
    "label_propagation": lambda s: label_propagation(_edges(s), iters=3),
    "unigram_lm_vocab": lambda s: unigram_lm_vocab(
        _docs(s), "doc_id", "text", seed_size=16, vocab_size=8
    ),
    "unigram_fertility_by_group": lambda s: unigram_fertility_by_group(
        _docs(s), "doc_id", "text", "grp", seed_size=16, vocab_size=8
    ),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_final_round_checkpoint_released_with_scope(spark, tmp_path, op):
    with dedup_scope():
        baseline = sorted(map(tuple, OPS[op](spark).collect()))
    ckpt = tmp_path / "ckpt"
    with dedup_scope(checkpoint_dir=str(ckpt)):
        got = sorted(map(tuple, OPS[op](spark).collect()))
        # the rounds really spilled to parquet
        assert any(d.startswith("cc_round_") for d in os.listdir(ckpt))
    assert got == baseline
    assert os.listdir(ckpt) == []


def test_persist_of_a_cached_plan_registers_nothing(spark):
    """A plan cached already reads that cache and stays its owner's to
    release: releasing the scope frees only what the scope cached."""
    owned = spark.range(10).selectExpr("id * 3 AS x").persist()
    try:
        snap = snapshot_intermediates()
        again = persist(spark.range(10).selectExpr("id * 3 AS x"))
        mine = persist(spark.range(10).selectExpr("id * 5 AS x"))
        assert again.count() == mine.count() == 10
        assert release_new_intermediates(snap) == 1
        assert owned.storageLevel != StorageLevel.NONE
        assert mine.storageLevel == StorageLevel.NONE
    finally:
        owned.unpersist()


def test_pinned_conf_restores_a_set_value_and_unsets_an_unset_one(spark):
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        with pinned_conf(spark, key, 3):
            assert spark.conf.get(key) == "3"
        assert spark.conf.get(key) == "7"
        with pinned_conf(spark, key, None):
            assert spark.conf.get(key) == "7"
    finally:
        spark.conf.set(key, prev)
    unset = "spark.sql.test.tnPinnedConf"
    with pinned_conf(spark, unset, "x"):
        assert spark.conf.get(unset) == "x"
    assert spark.conf.get(unset, None) is None
