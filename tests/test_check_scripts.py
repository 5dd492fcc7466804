"""No persist of a catalog query run by the oracle-check scripts is
handed a plan that is cached already (Spark's "Asked to cache already
cached data" no-op): the scripts release what each query persisted
before the next query runs, and a query that persists one plan twice
registers it once."""

from __future__ import annotations

import importlib.util

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


@pytest.mark.parametrize("name", QUERIES)
def test_query_persists_no_cached_plan_and_leaves_nothing_cached(
    spark, strict_hash_check, con, name, monkeypatch
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
    cc, dm, _, rows = strict_hash_check.spark_result(
        spark, entrymod.queries()[name], SF_DIR, con,
        entrymod.oracle_sql()[name],
    )
    assert not cc and not dm and rows
    assert persisted and not cached_already
    assert not any(cache.lookupCachedData(df._jdf).isDefined() for df in persisted)
