"""No persist of a catalog query run by the oracle-check scripts is
handed a plan that is cached already (Spark's "Asked to cache already
cached data" no-op): the scripts release what each query persisted
before the next query runs, and a query that persists one plan twice
registers it once. Nor does a query leave a persistent RDD behind (a
local checkpoint of an iterative operator included), and the scripts
run from any working directory."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import pytest

import __spark_entry__ as entrymod
from tests.conftest import REPO
from tests.test_streaming import SF_DIR

# every query whose persisted plan a full sf0.01 strict-hash run asked
# to cache again: by a later query (all but dedup_minhash_recall) or
# within the query itself (dedup_minhash_recall, similarity_ann_recall)
QUERIES = [
    "cross_perplexity_en",
    "dedup_clusters",
    "dedup_containment",
    "graph_communities_parts",
    "multimodal_phash_recall",
    "sample_token_budget",
    "similarity_ann_recall",
    "similarity_pq_recall",
    "unigram_lm_vocab_docs",
    "dedup_minhash_recall",
]
# iterative queries whose local checkpoints leaked: lazy rounds that
# also persist (pagerank) and, persisting nothing, per-round 1-row
# frames next to the state (BPE)
LAZY_ROUNDS = ["graph_pagerank_parts"]
CHECKPOINT_ONLY = ["bpe_merge_sequence_docs"]


@pytest.fixture(scope="module")
def strict_hash_check():
    spec = importlib.util.spec_from_file_location(
        "strict_hash_check", REPO / "scripts" / "strict_hash_check.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.fixture(scope="module")
def con(strict_hash_check):
    con = strict_hash_check.oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize(
    "name,persists",
    [pytest.param(n, True, id=n) for n in QUERIES + LAZY_ROUNDS]
    + [pytest.param(n, False, id=n) for n in CHECKPOINT_ONLY],
)
def test_query_persists_no_cached_plan_and_leaves_nothing_cached(
    spark, strict_hash_check, con, name, persists, monkeypatch
):
    from pyspark.sql.classic.dataframe import DataFrame

    cache = spark._jsparkSession.sharedState().cacheManager()
    persisted, cached_already = [], []
    persist = DataFrame.persist

    def spy(self, *args, **kwargs):
        if cache.lookupCachedData(self._jdf).isDefined():
            cached_already.append(self)
        persisted.append(self)
        return persist(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "persist", spy)
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    before = set(rdds().keys())
    cc, dm, _, rows = strict_hash_check.spark_result(
        spark, entrymod.queries()[name], SF_DIR, con,
        entrymod.oracle_sql()[name],
    )
    assert not cc and not dm and rows
    assert bool(persisted) == persists and not cached_already
    assert not any(cache.lookupCachedData(df._jdf).isDefined() for df in persisted)
    assert set(rdds().keys()) == before


def test_check_script_runs_outside_the_checkout(tmp_path):
    """A UDF that unpickles into the package (a keyed-state stream)
    finds it in the Python workers when the script runs from another
    directory with the checkout off PYTHONPATH."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        p
        for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.realpath(p) != os.path.realpath(REPO)
    )
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, str(REPO / "scripts" / "check_oracle.py"), SF_DIR,
         "streaming_ewma"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
