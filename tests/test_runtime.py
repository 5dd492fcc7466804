"""The lifecycle owner, ``topnotch_spark.runtime``: iterative operators
that hand their final checkpoint round to the registry release it with
the scope that created it, a scope releases only what it cached itself,
a plan run keeps its outputs' checkpoints readable in both checkpoint
modes, the checkpoint dir is the setting of the thread that set it, and
``pinned_conf`` restores what it pinned.
"""

from __future__ import annotations

import json
import os
import threading

import pytest
from pyspark.storagelevel import StorageLevel

from topnotch_spark.engine import TnEngine

from topnotch_spark.operators.graph import (
    label_propagation,
    pagerank,
    personalized_pagerank,
)
from topnotch_spark.operators.textqc import (
    unigram_fertility_by_group,
    unigram_lm_vocab,
)
from topnotch_spark import runtime
from topnotch_spark.runtime import (
    dedup_scope,
    persist,
    pinned_conf,
    release_new_intermediates,
    snapshot_intermediates,
    truncate_round,
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


@pytest.mark.parametrize("walk", ["pagerank", "personalized_pagerank"])
def test_walk_with_no_rounds_returns_the_initial_ranks(spark, walk):
    seeds = spark.createDataFrame([(1,)], "node long")
    with dedup_scope():
        if walk == "pagerank":
            out = pagerank(_edges(spark), iters=0)
        else:
            out = personalized_pagerank(_edges(spark), seeds, iters=0)
        assert out.count() == 8


def test_local_round_writes_nothing_under_the_checkpoint_dir(spark, tmp_path):
    ckpt = tmp_path / "ckpt"
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    with dedup_scope(checkpoint_dir=str(ckpt)):
        df, handle = truncate_round(spark.range(5).toDF("x"), local=True)
        assert df.count() == 5 and len(handle) == 1
        assert not ckpt.exists() or os.listdir(ckpt) == []
        assert set(rdds().keys()) != before
    assert set(rdds().keys()) == before


def test_a_unit_another_release_took_is_skipped(spark):
    """Two releases that picked the same unit (scopes overlapping on
    two threads) free it once; the second does not raise."""
    snap = snapshot_intermediates()
    df = persist(spark.range(4).selectExpr("id * 11 AS x"))
    units = [u for u in runtime._REGISTRY if u not in snap]
    assert runtime._free(units) == 1
    assert runtime._free(units) == 0
    assert df.storageLevel == StorageLevel.NONE


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


def _graph_plan(tmp_path, edges, checkpoint_dir=None) -> str:
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [
            {
                "command": "graph",
                "input": {"ref": edges, "onDisk": True},
                "params": {"method": method, "srcColumn": "src",
                           "dstColumn": "dst", **params},
                "outputKey": key,
            }
            for key, method, params in (
                ("cc", "components", {}),
                ("pr", "pagerank", {"iters": 4}),
            )
        ],
    }
    if checkpoint_dir:
        plan["checkpointDir"] = checkpoint_dir
    path = tmp_path / "plan.json"
    path.write_text(json.dumps(plan))
    return str(path)


@pytest.mark.parametrize("spill", [False, True])
def test_plan_outputs_readable_after_the_run(spark, tmp_path, spill):
    """A plan run frees what it persisted but keeps the checkpoints its
    registry outputs read, in both checkpoint modes; the enclosing scope
    frees those."""
    edges = str(tmp_path / "edges.parquet")
    spark.createDataFrame([(1, 2), (2, 3), (4, 5)], "src long, dst long") \
        .write.parquet(edges)
    ckpt = tmp_path / "ckpt"
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    with dedup_scope():
        engine = TnEngine(spark)
        assert engine.run(_graph_plan(
            tmp_path, edges, str(ckpt) if spill else None
        )) == 0
        left = set(rdds().keys()) - before
        assert engine.registry["cc"].count() == 5
        assert engine.registry["pr"].count() == 5
        if spill:
            assert not left and os.listdir(ckpt)
        else:
            # components' final round and pagerank's four lazy rounds
            assert len(left) == 5
    assert set(rdds().keys()) == before
    assert not ckpt.exists() or os.listdir(ckpt) == []


def test_checkpoint_dir_is_the_setting_of_its_thread(spark, tmp_path):
    """While one thread holds dedup_scope(checkpoint_dir=X), a persist on
    another thread stays in executor storage and writes nothing under X."""
    ckpt = tmp_path / "ckpt"
    entered, done = threading.Event(), threading.Event()
    spilled = []

    def hold():
        with dedup_scope(checkpoint_dir=str(ckpt)):
            persist(spark.range(3).toDF("s"))
            spilled.extend(os.listdir(ckpt))
            entered.set()
            done.wait(120)

    holder = threading.Thread(target=hold)
    holder.start()
    try:
        assert entered.wait(120)
        with dedup_scope():
            df = persist(spark.range(10).selectExpr("id * 7 AS x"))
            assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
            assert df.count() == 10
            assert len(os.listdir(ckpt)) == len(spilled) == 1
    finally:
        done.set()
        holder.join()
    assert os.listdir(ckpt) == []


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
