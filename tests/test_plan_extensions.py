"""E2E: a JSON plan mixing reference commands (view/assertion) with
extension commands (dedup/text/similarity/asof) through the real engine."""

from __future__ import annotations

import json

import pytest

from tests.conftest import REPO
from topnotch_spark.engine import TnEngine

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def plan_path(tmp_path):
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "exact", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "exactDups",
            },
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "jaccard", "idColumn": "doc_id",
                           "textColumn": "text", "threshold": 0.5,
                           "shingleN": 5},
                "outputKey": "nearDups",
            },
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "quality", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "docQuality",
            },
            {
                "command": "assertion",
                "input": {"ref": "docQuality", "onDisk": False},
                "params": {"assertions": [{
                    "query": "quality_score >= 0 AND quality_score <= 1",
                    "description": "quality score in range",
                    "threshold": 0.0,
                }]},
                "outputKey": "qualityCheck",
            },
            {
                "command": "similarity",
                "corpus": {"ref": f"{SF}/embeddings.parquet", "onDisk": True},
                "queries": {"ref": f"{SF}/embeddings.parquet", "onDisk": True},
                "params": {"method": "ann", "idColumn": "vec_id",
                           "vecColumn": "embedding", "k": 5, "nPlanes": 8,
                           "dim": 64},
                "outputKey": "neighbors",
            },
            {
                "command": "view",
                "inputs": [{"ref": f"{SF}/events.parquet", "onDisk": True}],
                "params": {
                    "tableAliases": ["raw_events"],
                    # driver parquet stores ts without a zone (TIMESTAMP_NTZ,
                    # which watermark/unix_micros reject); a view is the
                    # user-facing way to normalize it to the session-zone type
                    "query": (
                        "SELECT event_id, user_id, "
                        "CAST(ts AS TIMESTAMP) AS ts, event_type, value "
                        "FROM raw_events"
                    ),
                },
                "outputKey": "events",
            },
            {
                "command": "view",
                "inputs": [{"ref": "events", "onDisk": False}],
                "params": {"tableAliases": ["ev"],
                           "query": "SELECT * FROM ev WHERE event_type = 'error'"},
                "outputKey": "errors",
            },
            {
                "command": "view",
                "inputs": [{"ref": "events", "onDisk": False}],
                "params": {"tableAliases": ["ev"],
                           "query": "SELECT * FROM ev WHERE event_type = 'click'"},
                "outputKey": "clicks",
            },
            {
                "command": "asof",
                "left": {"ref": "errors", "onDisk": False},
                "right": {"ref": "clicks", "onDisk": False},
                "params": {"on": ["user_id"], "leftTs": "ts", "rightTs": "ts",
                           "rightCols": ["event_id"], "suffix": "_click"},
                "outputKey": "errorsWithLastClick",
            },
            {
                "command": "profile",
                "input": {"ref": "events", "onDisk": False},
                "params": {"columns": ["value", "user_id"]},
                "outputKey": "eventProfile",
            },
            {
                "command": "drift",
                "reference": {"ref": "clicks", "onDisk": False},
                "current": {"ref": "errors", "onDisk": False},
                "params": {"column": "value", "nBuckets": 8},
                "outputKey": "clickErrorDrift",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    return str(p)


def test_extension_plan_end_to_end(spark, plan_path):
    engine = TnEngine(spark)
    num_failed = engine.run(plan_path)
    assert num_failed == 0

    reg = engine.registry
    assert set(reg) >= {
        "exactDups", "nearDups", "docQuality", "qualityCheck", "neighbors",
        "errorsWithLastClick",
    }
    assert reg["exactDups"].count() == 500
    assert {"id_1", "id_2", "jaccard"} <= set(reg["nearDups"].columns)
    assert reg["docQuality"].filter("passes_quality").count() > 0
    assert reg["qualityCheck"].count() == 0  # no invalid rows
    nb = reg["neighbors"]
    assert {"query_id", "neighbor_id", "cos_sim", "rank"} <= set(nb.columns)
    awl = reg["errorsWithLastClick"]
    assert {"ts_click", "event_id_click"} <= set(awl.columns)
    assert awl.count() == reg["errors"].count()
    # at least one error has a preceding click
    assert awl.filter("event_id_click IS NOT NULL").count() > 0
    prof = {r["column"]: r for r in reg["eventProfile"].collect()}
    assert set(prof) == {"value", "user_id"} and prof["value"]["n"] > 0
    drift = reg["clickErrorDrift"].collect()
    assert len(drift) == 8
    assert all(r["psi_term"] is not None for r in drift)


def test_unknown_extension_method_fails_at_parse(spark, tmp_path):
    """An unknown method is rejected while the PLAN is parsed (r8:
    promoted from a runtime error deep in execute to a uniform
    plan-validation ValueError), before any command runs."""
    plan = {
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "quantum", "idColumn": "doc_id"},
                "outputKey": "x",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    with pytest.raises(ValueError, match="dedup: unknown method 'quantum'"):
        TnEngine(spark).run(str(p))


def test_round2_commands_end_to_end(spark, tmp_path):
    """clusters/chunk/piiScrub/qualityFilter/vocabTopK/packShards/sample/
    drift-ks as plan commands through the real engine."""
    docs = {"ref": f"{SF}/documents.parquet", "onDisk": True}
    events = {"ref": f"{SF}/events.parquet", "onDisk": True}
    plan = {
        "commands": [
            {"command": "dedup", "input": docs,
             "params": {"method": "clusters", "idColumn": "doc_id",
                        "textColumn": "text", "numHashes": 16, "bands": 4,
                        "threshold": 0.5, "shingleN": 5},
             "outputKey": "dupClusters"},
            {"command": "text", "input": docs,
             "params": {"method": "chunk", "idColumn": "doc_id",
                        "textColumn": "text", "size": 200, "overlap": 50},
             "outputKey": "chunks"},
            {"command": "text", "input": docs,
             "params": {"method": "piiScrub", "idColumn": "doc_id",
                        "textColumn": "text"},
             "outputKey": "scrubbed"},
            {"command": "text", "input": docs,
             "params": {"method": "qualityFilter", "idColumn": "doc_id",
                        "textColumn": "text"},
             "outputKey": "filtered"},
            {"command": "text", "input": docs,
             "params": {"method": "vocabTopK", "idColumn": "doc_id",
                        "textColumn": "text", "k": 10},
             "outputKey": "vocab"},
            {"command": "text", "input": docs,
             "params": {"method": "packShards", "idColumn": "doc_id",
                        "textColumn": "text", "budget": 1000,
                        "globalOrdering": True},
             "outputKey": "shards"},
            {"command": "sample", "input": docs,
             "params": {"idColumn": "doc_id", "stratColumn": "lang",
                        "rates": {"en": 0.5, "de": 0.25}},
             "outputKey": "sampled"},
            {"command": "drift", "reference": events, "current": events,
             "params": {"column": "value", "method": "ks"},
             "outputKey": "ksDrift"},
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    reg = engine.registry
    assert {"id", "cluster_id", "cluster_size", "keep"} <= set(
        reg["dupClusters"].columns
    )
    assert reg["chunks"].count() > 500  # fan-out happened
    assert reg["scrubbed"].columns[-1] == "clean_text"
    assert reg["filtered"].filter("keep").count() > 0
    assert reg["vocab"].count() == 10
    shards = reg["shards"]
    assert shards.count() == 500 and "shard_id" in shards.columns
    sampled = reg["sampled"]
    langs = {r["lang"] for r in sampled.select("lang").distinct().collect()}
    assert langs <= {"en", "de"}
    ks = reg["ksDrift"].collect()[0]
    assert ks["ks_stat"] == 0.0  # same dataset both sides


def test_line_dedup_and_weighted_sample_commands(spark, tmp_path):
    """dedup method=lines and sample weightColumn form through the real
    engine: boilerplate footer stripped, weighted keep deterministic."""
    docs = {"ref": f"{SF}/documents.parquet", "onDisk": True}
    plan = {
        "commands": [
            {"command": "view", "inputs": [docs],
             "params": {"tableAliases": ["d"],
                        "query": "SELECT doc_id, text || '\\n' || "
                                 "'footer ' || source AS text, "
                                 "n_chars / 400.0 AS w FROM d"},
             "outputKey": "withFooter"},
            {"command": "dedup",
             "input": {"ref": "withFooter", "onDisk": False},
             "params": {"method": "lines", "idColumn": "doc_id",
                        "textColumn": "text", "maxLineDf": 1},
             "outputKey": "lineDeduped"},
            {"command": "sample",
             "input": {"ref": "withFooter", "onDisk": False},
             "params": {"idColumn": "doc_id", "weightColumn": "w"},
             "outputKey": "weighted"},
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    deduped = engine.registry["lineDeduped"]
    assert deduped.count() == 500
    # sources have >1 doc at sf0.001, so every footer line is removed
    assert deduped.filter("text LIKE '%footer %'").count() == 0
    assert deduped.filter("n_removed >= 1").count() == 500
    n = engine.registry["weighted"].count()
    assert 0 < n < 500


def test_sample_weight_and_strat_mutually_exclusive(spark, tmp_path):
    plan = {
        "commands": [
            {"command": "sample",
             "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
             "params": {"idColumn": "doc_id", "weightColumn": "w",
                        "stratColumn": "lang", "rates": {"en": 0.5}},
             "outputKey": "bad"},
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    with pytest.raises(ValueError, match="mutually exclusive"):
        TnEngine(spark).run(str(p))


def test_decontaminate_command(spark, tmp_path):
    plan = {
        "commands": [
            {"command": "view",
             "inputs": [{"ref": f"{SF}/documents.parquet", "onDisk": True}],
             "params": {"tableAliases": ["docs"],
                        "query": "SELECT * FROM docs WHERE source IN ('src0','src1')"},
             "outputKey": "bench"},
            {"command": "view",
             "inputs": [{"ref": f"{SF}/documents.parquet", "onDisk": True}],
             "params": {"tableAliases": ["docs"],
                        "query": "SELECT * FROM docs WHERE source NOT IN ('src0','src1')"},
             "outputKey": "corpus"},
            {"command": "decontaminate",
             "corpus": {"ref": "corpus", "onDisk": False},
             "benchmark": {"ref": "bench", "onDisk": False},
             "params": {"idColumn": "doc_id", "textColumn": "text",
                        "shingleN": 5},
             "outputKey": "leaks"},
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    leaks = engine.registry["leaks"]
    assert {"corpus_id", "bench_id", "n_common", "overlap_frac"} == set(
        leaks.columns
    )


def test_llm_pipeline_plan_chains_stages(spark):
    """The full curation pipeline as ONE chained plan: quality gate →
    line-level boilerplate dedup → cluster dedup → PII scrub →
    chunk/shard, each stage reading the previous stage's registry
    output."""
    engine = TnEngine(spark)
    num_failed = engine.run(
        str(REPO / "examples" / "llm_pipeline_plan.json"),
        variables={"sfDir": SF},
    )
    assert num_failed == 0
    reg = engine.registry
    n_raw = spark.read.parquet(f"{SF}/documents.parquet").count()
    n_quality = reg["qualityDocs"].count()
    n_dedup = reg["dedupedDocs"].count()
    assert n_quality <= n_raw
    assert reg["lineCleanDocs"].count() == n_quality  # rewrite, not filter
    assert n_dedup <= n_quality
    # scrub preserved row count; chunking fans out
    assert reg["cleanDocs"].count() == n_dedup
    assert reg["chunks"].count() >= n_dedup
    assert reg["trainingShards"].count() == n_dedup
    # dup clusters kept exactly one doc per cluster
    clusters = reg["dupClusters"]
    kept = clusters.filter("keep").count()
    assert kept == clusters.select("cluster_id").distinct().count()


def test_integrity_and_skew_commands(spark, tmp_path):
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [
            {
                "command": "integrity",
                "relations": [
                    {
                        "name": "orders->customer",
                        "child": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                        "fk": ["o_custkey"],
                        "parent": {"ref": f"{SF}/customer.parquet", "onDisk": True},
                        "pk": ["c_custkey"],
                    },
                ],
                "outputKey": "fkCheck",
            },
            {
                "command": "assertion",
                "input": {"ref": "fkCheck", "onDisk": False},
                "params": {"assertions": [{
                    "query": "orphan_frac <= 0.0",
                    "description": "no FK orphans",
                    "threshold": 0.0,
                }]},
                "outputKey": "fkAssert",
            },
            {
                "command": "skewProfile",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"keys": ["o_custkey"], "k": 5},
                "outputKey": "hotKeys",
            },
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "normalize", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "normDocs",
            },
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "containment", "idColumn": "doc_id",
                           "textColumn": "text", "threshold": 0.5,
                           "shingleN": 5},
                "outputKey": "contained",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    eng = TnEngine(spark)
    num_failed = eng.run(str(p))
    reg = eng.registry
    fk = reg["fkCheck"].collect()
    assert [r["relation"] for r in fk] == ["orders->customer"]
    # orders FKs are complete in the synthetic data -> assertion passes
    assert num_failed == 0
    hot = reg["hotKeys"].collect()
    assert len(hot) == 5 and hot[0]["rank"] == 1
    assert reg["normDocs"].columns == [
        "doc_id", "norm_text", "n_chars_raw", "n_chars_norm", "changed"
    ]
    assert "containment" in reg["contained"].columns


def test_sequence_split_winsorize_corpusstats_commands(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "throttle",
                           "keyColumns": ["user_id", "event_type"],
                           "tsColumn": "ts", "tiebreakColumn": "event_id",
                           "minGapSeconds": 300},
                "outputKey": "throttled",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "funnel", "userColumn": "user_id",
                           "tsColumn": "ts", "stateColumn": "event_type",
                           "stages": ["view", "click", "purchase"]},
                "outputKey": "funnel",
            },
            {
                "command": "split",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"idColumn": "doc_id",
                           "fractions": {"train": 0.8, "val": 0.1,
                                         "test": 0.1}},
                "outputKey": "splits",
            },
            {
                "command": "winsorize",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"valueColumn": "o_totalprice",
                           "groupColumns": ["o_orderstatus"]},
                "outputKey": "clipped",
            },
            {
                "command": "corpusStats",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "mix", "groupColumn": "source",
                           "textColumn": "text", "alpha": 0.5},
                "outputKey": "mix",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    eng = TnEngine(spark)
    assert eng.run(str(p)) == 0
    reg = eng.registry
    assert "kept" in reg["throttled"].columns
    funnel = {r["stage"]: r["n_users"] for r in reg["funnel"].collect()}
    assert funnel["view"] >= funnel["click"] >= funnel["purchase"] > 0
    splits = {r["split"] for r in reg["splits"].collect()}
    assert splits <= {"train", "val", "test"}
    assert "o_totalprice_clipped" in reg["clipped"].columns
    mix = reg["mix"].collect()
    assert abs(sum(r["mix_weight"] for r in mix) - 1.0) < 1e-4


def test_checkpoint_dir_minhash_identical_and_cleaned(spark, tmp_path):
    """SCALE.md §6 valve: with a plan-level checkpointDir the dedup
    intermediates spill to parquet, the pair output is identical to the
    in-memory-persist run, and the files are deleted after the plan."""
    import os

    from topnotch_spark.operators.dedup import (
        dedup_scope,
        minhash_lsh_dedup,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with dedup_scope():
        baseline = sorted(
            map(tuple, minhash_lsh_dedup(docs, "doc_id", "text").collect())
        )
    ckpt = tmp_path / "ckpt"
    with dedup_scope(checkpoint_dir=str(ckpt)):
        got = sorted(
            map(tuple, minhash_lsh_dedup(docs, "doc_id", "text").collect())
        )
        # the shingle table actually spilled to parquet
        assert any(d.startswith("tn_ckpt_") for d in os.listdir(ckpt))
    assert got == baseline
    # scope exit deleted the checkpoint files
    assert os.listdir(ckpt) == []


def test_checkpoint_dir_connected_components(spark, tmp_path):
    """connected_components under a checkpoint dir: parquet per-round
    truncation, same clusters, final round cleaned up by the scope."""
    import os

    from topnotch_spark.operators.cluster import dup_clusters
    from topnotch_spark.operators.dedup import dedup_scope

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22)], "id_1 long, id_2 long"
    )
    baseline = sorted(map(tuple, dup_clusters(pairs).collect()))
    ckpt = tmp_path / "cc_ckpt"
    with dedup_scope(checkpoint_dir=str(ckpt)):
        got = sorted(map(tuple, dup_clusters(pairs).collect()))
    assert got == baseline
    assert not os.path.exists(ckpt) or os.listdir(ckpt) == []


def test_plan_level_checkpoint_dir(spark, tmp_path):
    """checkpointDir in the plan envelope routes dedup intermediates to
    parquet for the duration of the plan run."""
    import os

    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "checkpointDir": str(tmp_path / "plan_ckpt"),
        "commands": [
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "minhash", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "nearDups",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    assert "nearDups" in engine.registry
    # files existed during the run and are gone after it
    ckpt = tmp_path / "plan_ckpt"
    assert not os.path.exists(ckpt) or os.listdir(ckpt) == []


def test_duplicate_spans_command(spark, tmp_path):
    plan = {
        "commands": [
            {"command": "dedup",
             "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
             "params": {"method": "spans", "idColumn": "doc_id",
                        "textColumn": "text", "spanTokens": 20,
                        "minOccurrences": 2},
             "outputKey": "dupSpans"},
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    spans = engine.registry["dupSpans"]
    assert set(spans.columns) == {"id", "pos", "span_key", "n_occurrences",
                                  "n_docs"}
    assert spans.filter("n_occurrences < 2").count() == 0


def test_round5_commands_bloom_incremental_semantic_gopher_budget(
    spark, tmp_path
):
    """One chained plan exercising every round-5 plan-surface addition:
    bloom build → bloom probe against it, incremental dedup against a
    snapshot, semantic (SemDeDup) over embeddings, gopher rules, and
    token-budget sampling."""
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [
            {
                "command": "bloom",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "build", "keyColumn": "text",
                           "mBits": 4096, "kHashes": 3},
                "outputKey": "seenFilter",
            },
            {
                "command": "bloom",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "filter": {"ref": "seenFilter", "onDisk": False},
                "params": {"method": "probe", "keyColumn": "text",
                           "idColumn": "doc_id", "mBits": 4096,
                           "kHashes": 3},
                "outputKey": "probed",
            },
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "index": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "incremental", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "incremental",
            },
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/embeddings.parquet", "onDisk": True},
                "params": {"method": "semantic", "idColumn": "vec_id",
                           "vecColumn": "embedding", "nClusters": 4,
                           "threshold": 0.35},
                "outputKey": "semantic",
            },
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "gopher", "idColumn": "doc_id",
                           "textColumn": "text", "minStopHits": 1,
                           "stopwords": ["the", "a", "of", "and", "to"]},
                "outputKey": "gopher",
            },
            {
                "command": "sample",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"idColumn": "doc_id", "textColumn": "text",
                           "groupColumn": "source", "budgetTokens": 2000},
                "outputKey": "budgetSample",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    reg = engine.registry
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    # every doc was built into the filter, so every probe must hit
    probed = reg["probed"]
    assert probed.count() == n_docs
    assert probed.filter("NOT bloom_hit").count() == 0
    # the whole corpus IS the index: nothing in the batch survives
    inc = reg["incremental"]
    assert inc.count() == n_docs
    assert inc.filter("keep").count() == 0
    sem = reg["semantic"]
    assert sem.count() == spark.read.parquet(
        f"{SF}/embeddings.parquet"
    ).count()
    assert set(sem.columns) == {"id", "centroid_id", "keep"}
    gopher = reg["gopher"]
    assert gopher.count() == n_docs and "keep" in gopher.columns
    sample = reg["budgetSample"]
    assert sample.count() == n_docs
    assert 0 < sample.filter("selected").count() < n_docs


def test_bloom_probe_without_filter_fails(spark, tmp_path):
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [{
            "command": "bloom",
            "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
            "params": {"method": "probe", "keyColumn": "text",
                       "idColumn": "doc_id"},
            "outputKey": "x",
        }],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    with pytest.raises(ValueError, match="probe"):
        TnEngine(spark).run(str(p))


def test_analytics_ext_commands(spark, tmp_path):
    """Chained plan exercising the analytics additions on the plan
    surface: text tokenEntropy/readability, outliers (zscore + mad),
    pivot cross-tab, sequence retention + rolling."""
    plan = {
        "io": {"writer": "hdfs", "dest": str(tmp_path / "reports")},
        "commands": [
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "tokenEntropy", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "entropy",
            },
            {
                "command": "text",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "readability", "idColumn": "doc_id",
                           "textColumn": "text"},
                "outputKey": "readability",
            },
            {
                "command": "outliers",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"method": "mad", "valueColumn": "o_totalprice",
                           "groupColumns": ["o_orderpriority"], "k": 3.5},
                "outputKey": "madFlags",
            },
            {
                "command": "outliers",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"method": "zscore", "valueColumn": "o_totalprice"},
                "outputKey": "zFlags",
            },
            {
                "command": "pivot",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"groupColumn": "o_orderpriority",
                           "pivotColumn": "o_orderstatus",
                           "pivotValues": ["F", "O", "P"],
                           "valueColumn": "o_totalprice"},
                "outputKey": "pivoted",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "retention", "keyColumn": "user_id",
                           "tsColumn": "ts"},
                "outputKey": "retention",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "rolling", "keyColumn": "user_id",
                           "tsColumn": "ts", "valueColumn": "value",
                           "windowSeconds": 86400},
                "outputKey": "rolled",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "trend", "keyColumn": "user_id",
                           "tsColumn": "ts", "valueColumn": "value"},
                "outputKey": "trends",
            },
            {
                "command": "dedup",
                "input": {"ref": f"{SF}/customer.parquet", "onDisk": True},
                "params": {"method": "fuzzy", "idColumn": "c_custkey",
                           "textColumn": "c_name"},
                "outputKey": "fuzzyNames",
            },
            {
                "command": "drift",
                "reference": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "current": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"method": "chi2", "column": "o_orderpriority"},
                "outputKey": "chi2Drift",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    code = engine.run(str(p))
    assert code == 0
    reg = engine.registry
    assert reg["entropy"].count() > 0
    assert "flesch_score" in reg["readability"].columns
    assert "robust_z" in reg["madFlags"].columns
    assert "zscore" in reg["zFlags"].columns
    assert {"F_cnt", "O_sum"} <= set(reg["pivoted"].columns)
    assert {"cohort_week", "retention"} <= set(reg["retention"].columns)
    assert "roll_avg" in reg["rolled"].columns
    assert "slope_per_day" in reg["trends"].columns
    assert {"id_a", "distance"} <= set(reg["fuzzyNames"].columns)
    # identical ref/cur -> zero chi-square everywhere
    assert all(r.chi2_term == 0.0 for r in reg["chi2Drift"].collect())


def test_scd2_interval_compact_plan(spark, tmp_path):
    """scd2 / intervalJoin / compact commands through the real engine."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cur = tmp_path / "cur.parquet"
    upd = tmp_path / "upd.parquet"
    import datetime as dt
    pq.write_table(pa.table({
        "k": [1, 2], "seg": ["A", "B"],
        "valid_from": [dt.date(1992, 1, 1)] * 2,
        "valid_to": pa.array([None, None], type=pa.date32()),
        "is_current": [True, True],
    }), cur)
    pq.write_table(pa.table({
        "k": [2, 3], "seg": ["B2", "C"],
        "eff": [dt.date(1996, 6, 1)] * 2,
    }), upd)
    frag = tmp_path / "frag"
    spark.range(1000).repartition(8).write.parquet(str(frag))
    plan = {
        "commands": [
            {
                "command": "scd2",
                "current": {"ref": str(cur), "onDisk": True},
                "updates": {"ref": str(upd), "onDisk": True},
                "params": {"keys": ["k"], "tracked": ["seg"],
                           "effectiveColumn": "eff"},
                "outputKey": "dimHistory",
            },
            {
                "command": "intervalJoin",
                "facts": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "ranges": {"ref": f"{SF}/nation.parquet", "onDisk": True},
                "params": {"valueColumn": "o_totalprice",
                           "loColumn": "n_nationkey", "hiColumn": "n_regionkey",
                           "rangeColumns": ["n_name"],
                           "chunkWidth": 100000.0},
                "outputKey": "bandedOrders",
            },
            {
                "command": "compact",
                "params": {"source": str(frag),
                           "dest": str(tmp_path / "compacted"),
                           "targetFileMB": 512},
                "outputKey": "compactStats",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    reg = engine.registry
    hist = {(r["k"], r["is_current"]): r["seg"]
            for r in reg["dimHistory"].collect()}
    # 1 untouched, 2 closed + new version, 3 inserted
    assert hist == {(1, True): "A", (2, False): "B", (2, True): "B2",
                    (3, True): "C"}
    # nation lo/hi are tiny ints -> no orders in range; command runs, 0 rows
    assert reg["bandedOrders"].count() == 0
    stats = reg["compactStats"].collect()[0]
    assert stats["files_before"] == 8 and stats["files_after"] == 1
    assert spark.read.parquet(str(tmp_path / "compacted")).count() == 1000


def test_k_anonymity_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "kAnonymity",
                "input": {"ref": f"{SF}/customer.parquet", "onDisk": True},
                "params": {"quasiColumns": ["c_nationkey", "c_mktsegment"],
                           "k": 3, "riskyOnly": False},
                "outputKey": "privacyAudit",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    audit = engine.registry["privacyAudit"]
    assert {"c_nationkey", "c_mktsegment", "group_size", "meets_k"} == set(
        audit.columns
    )
    n_groups = audit.count()
    assert n_groups > 0
    # group sizes sum back to the table row count
    total = audit.groupBy().sum("group_size").collect()[0][0]
    assert total == spark.read.parquet(f"{SF}/customer.parquet").count()


def test_basket_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "basket",
                "input": {"ref": f"{SF}/lineitem.parquet", "onDisk": True},
                "params": {"basketColumn": "l_orderkey",
                           "itemColumn": "l_returnflag", "minSupport": 2},
                "outputKey": "flagPairs",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    pairs = engine.registry["flagPairs"]
    assert {"item_a", "item_b", "pair_count", "count_a", "count_b",
            "lift"} == set(pairs.columns)
    assert pairs.count() > 0
    assert pairs.filter("item_a >= item_b").count() == 0  # ordered pairs


def test_schema_check_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "schemaCheck",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"columns": [
                    {"name": "o_orderkey", "type": "bigint"},
                    {"name": "o_totalprice", "type": "double"},
                    {"name": "o_totalprice", "type": "string"},
                    {"name": "o_missing", "type": "int"},
                ]},
                "outputKey": "contract",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    got = {(r["column"], r["status"]) for r in engine.registry["contract"].collect()}
    assert ("o_orderkey", "ok") in got
    assert ("o_totalprice", "ok") in got
    assert ("o_totalprice", "type_mismatch") in got
    assert ("o_missing", "missing") in got


def test_schema_check_fail_on_violation(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "schemaCheck",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"columns": [{"name": "nope", "type": "int"}],
                           "failOnViolation": True},
                "outputKey": "contract",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    import pytest

    with pytest.raises(ValueError, match="schemaCheck 'contract' failed"):
        engine.run(str(p))


def test_spatial_join_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "view",
                "inputs": [{"ref": f"{SF}/customer.parquet", "onDisk": True}],
                "params": {"tableAliases": ["c"],
                           "query": ("SELECT c_custkey, (c_custkey*7919)%100 AS x, "
                                     "(c_custkey*104729)%100 AS y FROM c")},
                "outputKey": "points",
            },
            {
                "command": "spatialJoin",
                "left": {"ref": "points", "onDisk": False},
                "right": {"ref": "points", "onDisk": False},
                "params": {"radius": 5},
                "outputKey": "nearPairs",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    pairs = engine.registry["nearPairs"]
    assert {"c_custkey_l", "c_custkey_r", "dist_sq"} <= set(pairs.columns)
    # self-join: every point matches itself at distance 0
    n_points = engine.registry["points"].count()
    assert pairs.filter("dist_sq = 0").count() >= n_points

def test_round5b_plan_commands(spark, tmp_path):
    """drift tokens, l-diversity, sequence ewma/anomaly, vocabOverlap."""
    plan = {
        "commands": [
            {
                "command": "drift",
                "reference": {"ref": f"{SF}/documents.parquet",
                              "onDisk": True},
                "current": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "tokens", "column": "text"},
                "outputKey": "tokenDrift",
            },
            {
                "command": "kAnonymity",
                "input": {"ref": f"{SF}/customer.parquet", "onDisk": True},
                "params": {"quasiColumns": ["c_nationkey"],
                           "sensitiveColumn": "c_mktsegment", "l": 6,
                           "riskyOnly": False},
                "outputKey": "lDiversity",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "ewma", "keyColumn": "user_id",
                           "valueColumn": "value", "terms": 8},
                "outputKey": "smoothed",
            },
            {
                "command": "sequence",
                "input": {"ref": f"{SF}/events.parquet", "onDisk": True},
                "params": {"method": "anomaly", "keyColumn": "user_id",
                           "valueColumn": "value", "threshold": 2.5},
                "outputKey": "anomalies",
            },
            {
                "command": "corpusStats",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"method": "vocabOverlap", "groupColumn": "lang"},
                "outputKey": "vocabPairs",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    drift = engine.registry["tokenDrift"].collect()[0]
    assert drift["js_divergence"] == 0.0  # identical corpora
    ldiv = engine.registry["lDiversity"]
    assert {"c_nationkey", "group_size", "distinct_sensitive",
            "meets_l"} == set(ldiv.columns)
    assert engine.registry["smoothed"].count() > 0
    assert "ewma" in engine.registry["smoothed"].columns
    assert "zscore" in engine.registry["anomalies"].columns
    pairs = engine.registry["vocabPairs"]
    assert pairs.filter("group_a >= group_b").count() == 0


def test_zorder_sink_layout(spark, tmp_path):
    """zorderBy writes files whose min/max rectangles are tight on BOTH
    columns — neither dimension's per-file span covers the full domain."""
    import pyarrow.parquet as pq

    plan = {
        "commands": [
            {
                "command": "view",
                "inputs": [{"ref": f"{SF}/customer.parquet",
                            "onDisk": True}],
                "params": {
                    "tableAliases": ["c"],
                    "query": "SELECT c_custkey,"
                             " (c_custkey * 7919) % 1024 AS x,"
                             " (c_custkey * 104729) % 1024 AS y FROM c",
                },
                "outputKey": "grid",
                "outputPath": str(tmp_path / "zsorted"),
                "zorderBy": ["x", "y"],
                "zorderBits": 10,
                "sortPartitions": 8,
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0

    files = sorted((tmp_path / "zsorted").glob("*.parquet"))
    assert len(files) > 1
    spans_x, spans_y = [], []
    for f in files:
        md = pq.read_metadata(str(f))
        lo_x = hi_x = lo_y = hi_y = None
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                name = col.path_in_schema
                st = col.statistics
                if st is None or name not in ("x", "y"):
                    continue
                if name == "x":
                    lo_x = st.min if lo_x is None else min(lo_x, st.min)
                    hi_x = st.max if hi_x is None else max(hi_x, st.max)
                else:
                    lo_y = st.min if lo_y is None else min(lo_y, st.min)
                    hi_y = st.max if hi_y is None else max(hi_y, st.max)
        spans_x.append(hi_x - lo_x)
        spans_y.append(hi_y - lo_y)
    # Z-order: the MEDIAN per-file span is a fraction of the 1024 domain
    # on BOTH dims (a 1-column sort would leave the other dim ~full-span
    # in every file).
    spans_x.sort(); spans_y.sort()
    assert spans_x[len(spans_x) // 2] < 1024 * 0.8
    assert spans_y[len(spans_y) // 2] < 1024 * 0.8
    # dropped helper column does not leak into the output
    cols = pq.read_schema(str(files[0])).names
    assert "__zkey__" not in cols
    # row fidelity: same rows as the unsorted frame
    assert (
        spark.read.parquet(str(tmp_path / "zsorted")).count()
        == engine.registry["grid"].count()
    )


def test_zorder_sink_validation(spark, tmp_path):
    from topnotch_spark.sources.outputs import store_output

    df = spark.range(10).selectExpr("id AS x", "id AS y")
    with pytest.raises(ValueError, match="exactly two"):
        store_output(spark, df, "k", {}, output_path=str(tmp_path / "o"),
                     zorder_by=["x"])
    with pytest.raises(ValueError, match="mutually exclusive"):
        store_output(spark, df, "k", {}, output_path=str(tmp_path / "o"),
                     zorder_by=["x", "y"], sort_by=["x"])


def test_zorder_sink_empty_input(spark, tmp_path):
    """zorderBy over an empty DataFrame (min/max collect returns NULLs)
    writes unsorted instead of raising float(None) TypeError."""
    from topnotch_spark.sources.outputs import store_output

    empty = spark.range(0).selectExpr("id AS x", "id AS y")
    out = str(tmp_path / "empty_z")
    store_output(spark, empty, "k", {}, output_path=out,
                 zorder_by=["x", "y"])
    assert spark.read.parquet(out).count() == 0

    allnull = spark.range(5).selectExpr(
        "CAST(NULL AS bigint) AS x", "id AS y"
    )
    out2 = str(tmp_path / "null_z")
    store_output(spark, allnull, "k2", {}, output_path=out2,
                 zorder_by=["x", "y"])
    assert spark.read.parquet(out2).count() == 5


def test_retrieval_curation_plan(spark):
    """The round-6 surface as ONE plan: BM25 retrieval, curriculum
    sampling, split-leakage report, weekly drift trend, rank
    calibration, and the OOV coverage check."""
    engine = TnEngine(spark)
    num_failed = engine.run(
        str(REPO / "examples" / "retrieval_curation_plan.json"),
        variables={"sfDir": SF},
    )
    assert num_failed == 0
    reg = engine.registry
    assert reg["bm25Hits"].filter("rank = 1").count() == 2  # two queries
    assert reg["curriculumKept"].filter("band = 1").count() > 0
    assert "leak_frac" in reg["splitLeakage"].columns
    assert reg["weeklyDrift"].count() >= 1
    assert reg["calibratedQuality"].filter("q_calibrated > 1").count() == 0
    assert reg["oovBySource"].count() == 20


def test_corpus_monitoring_plan(spark, tmp_path):
    """The round-5 monitoring surface as ONE plan: token drift, vocab
    overlap, semantic decontamination, cadence/EWMA/anomaly sequences,
    l-diversity, and a Z-ordered sink."""
    engine = TnEngine(spark)
    num_failed = engine.run(
        str(REPO / "examples" / "corpus_monitoring_plan.json"),
        variables={"sfDir": SF, "outDir": str(tmp_path)},
    )
    assert num_failed == 0
    reg = engine.registry
    assert reg["tokenDrift"].collect()[0]["js_divergence"] == 0.0
    assert reg["sourceVocabOverlap"].count() > 0
    n_vecs = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert reg["semanticLeaks"].filter("corpus_id = bench_id").count() == n_vecs
    assert reg["userCadence"].count() > 0
    assert "ewma" in reg["valueSmoothed"].columns
    assert "zscore" in reg["valueAnomalies"].columns
    assert "distinct_sensitive" in reg["segmentLeakGroups"].columns
    files = list((tmp_path / "customer_grid_zsorted").glob("*.parquet"))
    assert len(files) > 1  # sortPartitions=8 range split materialized


def test_profile_corr_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "profile",
                "input": {"ref": f"{SF}/lineitem.parquet", "onDisk": True},
                "params": {"corrColumns": ["l_quantity", "l_extendedprice"],
                           "decimals": 2},
                "outputKey": "corrs",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["corrs"].collect()
    assert len(rows) == 1
    assert {"col_a", "col_b", "n", "corr"} == set(engine.registry["corrs"].columns)
    assert -1.0 <= rows[0]["corr"] <= 1.0


def test_profile_mi_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "profile",
                "input": {"ref": f"{SF}/orders.parquet", "onDisk": True},
                "params": {"miColumns": ["o_orderpriority",
                                         "o_orderstatus"]},
                "outputKey": "dependence",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    r = engine.registry["dependence"].collect()[0]
    assert r["mi_nats"] is not None and r["mi_nats"] >= 0.0


def test_sample_weighted_topn_plan(spark, tmp_path):
    plan = {
        "commands": [
            {
                "command": "sample",
                "input": {"ref": f"{SF}/documents.parquet", "onDisk": True},
                "params": {"idColumn": "doc_id",
                           "weightColumn": "n_chars", "n": 10},
                "outputKey": "topWeighted",
            },
        ],
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    assert engine.registry["topWeighted"].count() == 10


def _expect_plan_error(spark, tmp_path, cmd_obj, match):
    import re

    plan = {"commands": [cmd_obj]}
    p = tmp_path / "bad_plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    with pytest.raises(ValueError) as ei:
        engine.run(str(p))
    assert re.search(match, str(ei.value)), str(ei.value)[:500]


def test_bad_plans_fail_with_clear_messages(spark, tmp_path):
    """Malformed params on the round-5 commands surface the validation
    message, not a deep Spark analysis error."""
    inp = {"ref": f"{SF}/orders.parquet", "onDisk": True}
    _expect_plan_error(
        spark, tmp_path,
        {"command": "profile", "input": inp,
         "params": {"miColumns": ["only_one"]}, "outputKey": "x"},
        r"exactly two columns",
    )
    _expect_plan_error(
        spark, tmp_path,
        {"command": "profile", "input": inp,
         "params": {"miColumns": ["o_orderpriority", "o_orderstatus"],
                    "decimals": 4},
         "outputKey": "x"},
        r"not valid with miColumns",
    )
    _expect_plan_error(
        spark, tmp_path,
        {"command": "drift",
         "reference": inp, "current": inp,
         "params": {"column": "o_totalprice", "method": "nope"},
         "outputKey": "x"},
        r"drift: unknown method",
    )
    _expect_plan_error(
        spark, tmp_path,
        {"command": "sequence", "input": inp,
         "params": {"method": "warp", "keyColumn": "o_custkey"},
         "outputKey": "x"},
        r"sequence: unknown method",
    )
    _expect_plan_error(
        spark, tmp_path,
        {"command": "decontaminate", "corpus": inp, "benchmark": inp,
         "params": {"method": "telepathy", "idColumn": "o_orderkey"},
         "outputKey": "x"},
        r"decontaminate: unknown method",
    )


# ---------------------------------------------------------------------------
# Every shipped example plan runs end-to-end (r8, VERDICT r7 #7)
# ---------------------------------------------------------------------------

EXAMPLE_PLANS = sorted(str(p) for p in (REPO / "examples").glob("*.json"))


def test_all_examples_are_covered():
    """The parametrized run below must track the shipped set — a new
    example that nobody wired into tests should fail here, not rot."""
    assert len(EXAMPLE_PLANS) == 15, EXAMPLE_PLANS


@pytest.mark.parametrize(
    "plan", EXAMPLE_PLANS, ids=[p.rsplit("/", 1)[-1] for p in EXAMPLE_PLANS]
)
def test_example_plan_runs_clean(spark, tmp_path, request, plan):
    """Each examples/*.json executes against sf0.001 with zero failed
    commands — the copy-paste-able user surface stays runnable."""
    if plan.endswith("/incremental_ingestion_plan.json"):
        # the session's one run of it, which test_round12 checks in depth
        engine, num_failed, _ = request.getfixturevalue("ingestion_plan_run")(SF)
    else:
        engine = TnEngine(spark)
        num_failed = engine.run(
            plan,
            variables={
                "sfDir": SF,
                "workDir": str(tmp_path / "work"),
                "outDir": str(tmp_path / "out"),
                "minDate": "1995-01-01",  # documented orders_qc variable
            },
        )
    assert num_failed == 0
    assert engine.registry  # every example registers at least one output
