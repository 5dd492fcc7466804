"""Round-9 additions: advisor-fix regression tests (classifier-oracle
SQL escaping, GraphCmd edge-list weightColumn, PPR empty-seed guard)
and the new graph/BPE surface added this round."""

from __future__ import annotations

import json

import duckdb
import pytest

from topnotch_spark.operators.dedup import dedup_scope


def test_classifier_sql_escapes_quoted_tokens():
    """A vocabulary token containing an apostrophe must produce valid
    (and non-injectable) DuckDB SQL: quote-doubling in the VALUES list."""
    from topnotch_spark.oracles import linear_classifier_sql

    sql = linear_classifier_sql({"don't": 100, "can't": -40}, bias_milli=5)
    assert "don''t" in sql and "can''t" in sql
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        "(1, 'don''t panic'), (2, 'can''t stop'), (3, 'plain words')"
        ") t(doc_id, text)"
    )
    rows = {
        r[0]: (r[1], r[2], r[3])
        for r in con.execute(sql).fetchall()
    }
    assert rows[1] == (2, 105, True)
    assert rows[2] == (2, -35, False)
    assert rows[3] == (2, 5, True)


def test_graph_cmd_edge_list_paircount_weight(spark, tmp_path):
    """weightColumn='pairCount' on the EDGE-LIST path is a plain column
    name (the advisor's r8 finding: it used to be silently dropped and
    later exploded as an unresolved column). Results must match calling
    personalized_pagerank directly with the weight column."""
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.operators.graph import personalized_pagerank

    wedges = [(1, 2, 3), (1, 3, 1), (2, 3, 2), (3, 4, 5)]
    edges = spark.createDataFrame(
        wedges, "src long, dst long, pairCount long"
    )
    epath = str(tmp_path / "edges.parquet")
    edges.write.parquet(epath)
    plan = {
        "commands": [
            {
                "command": "graph",
                "input": {"ref": epath, "onDisk": True},
                "params": {
                    "method": "ppr",
                    "srcColumn": "src",
                    "dstColumn": "dst",
                    "weightColumn": "pairCount",
                    "seeds": [1],
                    "iters": 4,
                },
                "outputKey": "ranks",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    got = {
        r["node"]: r["rank_scaled"]
        for r in engine.registry["ranks"].collect()
    }
    seeds = spark.createDataFrame([(1,)], "node long")
    with dedup_scope():
        want = {
            r["node"]: r["rank_scaled"]
            for r in personalized_pagerank(
                spark.createDataFrame(
                    wedges, "src long, dst long, w long"
                ),
                seeds,
                iters=4,
                weight_col="w",
            ).collect()
        }
    assert got == want


def test_ppr_empty_seed_set_raises(spark):
    """Seeds that all fall outside the graph must raise, not silently
    return all-zero ranks (advisor r8 finding on graph.py)."""
    from topnotch_spark.operators.graph import personalized_pagerank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(99,), (100,)], "node long")
    with dedup_scope():
        with pytest.raises(ValueError, match="no seed node"):
            personalized_pagerank(edges, seeds, iters=2)


def test_persist_if_large_gates_on_input_size(spark):
    """The bm25 tf persist (r6->r8 verdict thread): a measurably small
    source must NOT be materialized (recompute beats persist below the
    threshold), a forced True/False must win over the estimate, and an
    unknown size (in-memory source) must persist — the 100 TB-safe
    default."""
    from topnotch_spark.runtime import (
        _estimated_input_bytes,
        dedup_scope,
        persist_if_large,
        snapshot_intermediates,
    )

    small = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = _estimated_input_bytes(small)
    assert est is not None and 0 < est < (64 << 20)
    mem = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    assert _estimated_input_bytes(mem) is None

    with dedup_scope():
        base = len(snapshot_intermediates())
        persist_if_large(small.select("doc_id"), small)  # small: skipped
        assert len(snapshot_intermediates()) == base
        persist_if_large(mem.select("doc_id"), mem)  # unknown: persisted
        assert len(snapshot_intermediates()) == base + 1
        persist_if_large(small.select("doc_id"), small, force=True)
        assert len(snapshot_intermediates()) == base + 2
        persist_if_large(mem.select("doc_id"), mem, force=False)
        assert len(snapshot_intermediates()) == base + 2


def test_bm25_persist_tf_plan_option(spark, tmp_path):
    """persistTf is plan-exposed and the forced-persist path returns the
    same rows as the skip path."""
    from topnotch_spark.engine import TnEngine

    def run(opts):
        plan = {
            "commands": [
                {
                    "command": "retrieve",
                    "input": {
                        "ref": "/root/testdata/sf0.001/documents.parquet",
                        "onDisk": True,
                    },
                    "params": {
                        "queries": [[1, "spark shuffle join"]],
                        "k": 5,
                        **opts,
                    },
                    "outputKey": "hits",
                }
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        return sorted(
            (r["doc_id"], r["rank"], r["score"])
            for r in engine.registry["hits"].collect()
        )

    assert run({"persistTf": True}) == run({"persistTf": False}) == run({})


def _py_pagerank(uedges, iters, scale=10**12, dn=17, dd=20):
    """Pure-Python replay of the fixed-point recurrence (test_graph.py
    convention) — the independent expectation for early-exit rounds."""
    adj: dict[int, set[int]] = {}
    for a, b in uedges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    rank = {v: scale // n for v in adj}
    for _ in range(iters):
        contrib = {v: 0 for v in adj}
        for v, nbrs in adj.items():
            share = (rank[v] * dn // dd) // len(nbrs)
            for u in nbrs:
                contrib[u] += share
        tp = (scale * (dd - dn) // dd) // n
        rank = {v: tp + contrib[v] for v in adj}
    return rank


STAR = [(1, 2), (1, 3), (1, 4), (1, 5)]


def test_pagerank_broadcast_ranks_false_matches_broadcast_path(spark):
    """The web-scale escape hatch (r8 verdict 'dead surface' finding):
    broadcast_ranks=False must produce bit-identical ranks via the
    partitioned equi-join path."""
    from topnotch_spark.operators.graph import pagerank

    edges = spark.createDataFrame(STAR + [(2, 3)], "src long, dst long")
    with dedup_scope():
        want = {
            r["node"]: r["rank_scaled"]
            for r in pagerank(edges, iters=4).collect()
        }
        got = {
            r["node"]: r["rank_scaled"]
            for r in pagerank(edges, iters=4, broadcast_ranks=False).collect()
        }
    assert got == want == _py_pagerank(STAR + [(2, 3)], 4)


K4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]


def test_pagerank_tol_scaled_converges_early(spark):
    """A complete graph is at its fixed point from round 0 (uniform
    ranks stay uniform), so a tol'd walk must stop at the FIRST
    checkpoint, report the realized round count in n_rounds, and the
    ranks must equal the pure-Python replay at that SAME round count
    (early exit is still exact arithmetic)."""
    from topnotch_spark.operators.graph import pagerank

    edges = spark.createDataFrame(K4, "src long, dst long")
    with dedup_scope():
        rows = pagerank(edges, iters=8, tol_scaled=10**6).collect()
    n_rounds = {r["n_rounds"] for r in rows}
    assert len(n_rounds) == 1
    realized = n_rounds.pop()
    # stopped at the first checkpoint — whose round number is the
    # cadence (probes only fire at checkpoints)
    from topnotch_spark.operators.graph import _CKPT_CADENCE

    assert realized == _CKPT_CADENCE
    got = {r["node"]: r["rank_scaled"] for r in rows}
    assert got == _py_pagerank(K4, realized)
    # a slow-mixing graph (star: center<->leaf mass oscillates, damps
    # only as 0.85^k) under an unreachable tolerance: runs the full cap
    # and says so
    star = spark.createDataFrame(STAR, "src long, dst long")
    with dedup_scope():
        rows = pagerank(star, iters=4, tol_scaled=0).collect()
    assert {r["n_rounds"] for r in rows} == {4}
    assert {r["node"]: r["rank_scaled"] for r in rows} == _py_pagerank(
        STAR, 4
    )


def test_ppr_tol_scaled_converges_early(spark):
    from topnotch_spark.operators.graph import personalized_pagerank

    # a fast-mixing walk (damping 1/10: deltas shrink 10x per round)
    # crosses the tolerance well before the cap
    edges = spark.createDataFrame(STAR, "src long, dst long")
    seeds = spark.createDataFrame([(1,)], "node long")
    with dedup_scope():
        rows = personalized_pagerank(
            edges, seeds, iters=8, tol_scaled=10**9,
            damp_num=1, damp_den=10,
        ).collect()
    realized = rows[0]["n_rounds"]
    # early exit happens at a checkpoint round, before the cap
    from topnotch_spark.operators.graph import _CKPT_CADENCE

    assert realized < 8 and realized % _CKPT_CADENCE == 0
    # ranks at the realized round count match an un-tol'd run pinned there
    with dedup_scope():
        want = {
            r["node"]: r["rank_scaled"]
            for r in personalized_pagerank(
                edges, seeds, iters=realized, damp_num=1, damp_den=10
            ).collect()
        }
    assert {r["node"]: r["rank_scaled"] for r in rows} == want


def test_graph_plan_snake_case_options_respected(spark, tmp_path):
    """Regression for the r8 camelCase-lookup bug: plan-set minSupport /
    dampNum / dampDen / broadcastRanks must actually reach the
    operators (they used to fall back to defaults silently)."""
    from topnotch_spark.engine import TnEngine
    from topnotch_spark.operators.graph import pagerank

    baskets = spark.createDataFrame(
        [("b1", 1), ("b1", 2), ("b2", 1), ("b2", 2), ("b3", 3), ("b3", 4)],
        "basket string, item long",
    )
    bpath = str(tmp_path / "baskets.parquet")
    baskets.write.parquet(bpath)

    def run(params):
        plan = {
            "commands": [
                {
                    "command": "graph",
                    "input": {"ref": bpath, "onDisk": True},
                    "params": {
                        "method": "pagerank",
                        "basketColumn": "basket",
                        "itemColumn": "item",
                        **params,
                    },
                    "outputKey": "pr",
                }
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        return {
            r["node"]: r["rank_scaled"]
            for r in engine.registry["pr"].collect()
        }

    # minSupport=2 keeps only the (1,2) edge -> 2 nodes survive
    assert set(run({"minSupport": 2, "iters": 2})) == {1, 2}
    assert set(run({"iters": 2})) == {1, 2, 3, 4}
    # dampNum/dampDen reach the fixed-point arithmetic
    got = run({"iters": 3, "dampNum": 1, "dampDen": 2,
               "broadcastRanks": False})
    edges = spark.createDataFrame(
        [(1, 2), (3, 4)], "src long, dst long"
    )
    with dedup_scope():
        want = {
            r["node"]: r["rank_scaled"]
            for r in pagerank(
                edges, iters=3, damp_num=1, damp_den=2
            ).collect()
        }
    assert got == want


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Reference BPE trainer (Sennrich et al. 2016): overlap-inclusive
    pair counts, (count desc, pair asc) tiebreak, greedy non-overlapping
    left-to-right merge-apply."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    out = []
    for r in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                counts[(syms[i], syms[i + 1])] = (
                    counts.get((syms[i], syms[i + 1]), 0) + c
                )
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        out.append((r, best[0], best[1], best[0] + best[1],
                    counts[best]))
        merged = {}
        for syms, c in vocab.items():
            ns, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and (syms[i], syms[i + 1]) == best
                ):
                    ns.append(best[0] + best[1])
                    i += 2
                else:
                    ns.append(syms[i])
                    i += 1
            merged[tuple(ns)] = merged.get(tuple(ns), 0) + c
        vocab = merged
    return out


def test_bpe_merge_sequence_matches_python_replay(spark):
    from topnotch_spark.operators.textqc import bpe_merge_sequence

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "newer newest new")],
        "doc_id long, text string",
    )
    with dedup_scope():
        got = [
            tuple(r)
            for r in bpe_merge_sequence(
                docs, "doc_id", "text", n_merges=6
            ).collect()
        ]
    assert got == _py_bpe(
        {"low": 3, "lower": 1, "lowest": 1, "newer": 1, "newest": 1,
         "new": 1},
        6,
    )


def test_bpe_merge_sequence_greedy_runs(spark):
    """Runs of a repeated symbol: counting is overlap-INCLUSIVE
    ('aaaa' holds three 'a a' pairs) but merge-apply is greedy
    NON-overlapping ('aaaa' -> [aa, aa]) — round 2 must therefore see
    'aa aa', the signature of correct greedy semantics."""
    from topnotch_spark.operators.textqc import bpe_merge_sequence

    docs = spark.createDataFrame(
        [(1, "aaaa aaaa aaa")], "doc_id long, text string"
    )
    with dedup_scope():
        got = [
            tuple(r)
            for r in bpe_merge_sequence(
                docs, "doc_id", "text", n_merges=2
            ).collect()
        ]
    # round 1: 'a a' with 3+3+2=8 overlapping occurrences
    # round 2: words are [aa,aa], [aa,aa], [aa,a] -> 'aa aa' x2, 'aa a' x1
    assert got == [
        (1, "a", "a", "aa", 8),
        (2, "aa", "aa", "aaaa", 2),
    ]
    assert got == _py_bpe({"aaaa": 2, "aaa": 1}, 2)


def test_bpe_merge_sequence_exhausted_corpus_stops_short(spark):
    """Fewer realizable merges than n_merges: emit what exists."""
    from topnotch_spark.operators.textqc import bpe_merge_sequence

    docs = spark.createDataFrame([(1, "ab ab")], "doc_id long, text string")
    with dedup_scope():
        got = [
            tuple(r)
            for r in bpe_merge_sequence(
                docs, "doc_id", "text", n_merges=5
            ).collect()
        ]
    assert got == [(1, "a", "b", "ab", 2)]


def test_bpe_merge_sequence_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "text",
                "input": {
                    "ref": "/root/testdata/sf0.001/documents.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "bpeMergeSequence",
                    "idColumn": "doc_id",
                    "textColumn": "text",
                    "nMerges": 3,
                },
                "outputKey": "merges",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["merges"].collect()
    assert [r["merge_rank"] for r in rows] == [1, 2, 3]
    assert all(r["merged"] == r["lhs"] + r["rhs"] for r in rows)


def test_bpe_fertility_hand_computed(spark):
    """Merges trained corpus-wide, fertility reported per slice —
    expectations hand-derived (6 merges: lo, low, ew, new, ab, er)."""
    from topnotch_spark.operators.textqc import bpe_fertility_by_group

    docs = spark.createDataFrame(
        [
            (1, "low lower lowest low low", "a"),
            (2, "newer newest new", "b"),
            (3, "ab ab", "b"),
        ],
        "doc_id long, text string, source string",
    )
    with dedup_scope():
        got = {
            r["source"]: (
                r["n_tokens"], r["n_subwords"], r["fertility"],
                r["chars_per_subword"],
            )
            for r in bpe_fertility_by_group(
                docs, "doc_id", "text", "source", n_merges=6
            ).collect()
        }
    # a: low*3 -> [low], lower -> [low,er], lowest -> [low,e,s,t]
    assert got["a"] == (5, 9, 1.8, round(20 / 9, 6))
    # b: newer -> [new,er], newest -> [new,e,s,t], new, ab*2
    assert got["b"] == (5, 9, 1.8, 2.0)


def test_bpe_fertility_exhausted_corpus_is_identity(spark):
    """After the corpus is fully merged, remaining rounds are sentinel
    no-ops: fertility still reports every group (the exhaustion state
    must never go empty)."""
    from topnotch_spark.operators.textqc import bpe_fertility_by_group

    docs = spark.createDataFrame(
        [(1, "ab ab", "x")], "doc_id long, text string, source string"
    )
    with dedup_scope():
        rows = bpe_fertility_by_group(
            docs, "doc_id", "text", "source", n_merges=5
        ).collect()
    assert len(rows) == 1
    r = rows[0]
    # one merge realizes (a,b); rounds 2-5 are identity
    assert (r["n_tokens"], r["n_subwords"], r["fertility"]) == (2, 2, 1.0)


def test_bpe_fertility_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "text",
                "input": {
                    "ref": "/root/testdata/sf0.001/documents.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "bpeFertility",
                    "idColumn": "doc_id",
                    "textColumn": "text",
                    "partitionCol": "source",
                    "nMerges": 2,
                },
                "outputKey": "fert",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["fert"].collect()
    assert rows and all(r["fertility"] >= 1.0 for r in rows)


def test_frequent_paths_hand_computed(spark):
    """3-step paths over a hand-built stream: overlapping windows,
    distinct-key counts, deterministic (count desc, path asc) ranking."""
    from topnotch_spark.operators.temporal import frequent_paths

    rows = [
        # user 1: a b c a b c  -> abc x2 (overlap: bca, cab once each)
        (1, 1, "a"), (1, 2, "b"), (1, 3, "c"),
        (1, 4, "a"), (1, 5, "b"), (1, 6, "c"),
        # user 2: a b c -> abc once
        (2, 1, "a"), (2, 2, "b"), (2, 3, "c"),
        # user 3: too short for 3 steps
        (3, 1, "a"), (3, 2, "b"),
    ]
    df = spark.createDataFrame(
        [(u, float(t), t, s) for u, t, s in rows],
        "user_id long, ts double, event_id long, event_type string",
    )
    got = [
        tuple(r)
        for r in frequent_paths(
            df, "user_id", "ts", "event_id", "event_type", n_steps=3, k=10
        ).collect()
    ]
    assert got == [
        ("a > b > c", 3, 2, 1),
        ("b > c > a", 1, 1, 2),
        ("c > a > b", 1, 1, 3),
    ]


def test_frequent_paths_two_steps_match_transition_counts(spark):
    """n_steps=2 must agree with transition_counts on every pair."""
    from topnotch_spark.catalog import load
    from topnotch_spark.operators.temporal import (
        frequent_paths,
        transition_counts,
    )

    ev = load(spark, "/root/testdata/sf0.001", "events")
    paths = {
        r["path"]: r["n_occurrences"]
        for r in frequent_paths(
            ev, "user_id", "ts", "event_id", "event_type",
            n_steps=2, k=10**6,
        ).collect()
    }
    trans = {
        f"{r['prev_state']} > {r['next_state']}": r["n_transitions"]
        for r in transition_counts(
            ev, "user_id", "ts", "event_id", "event_type"
        ).collect()
    }
    assert paths == trans


def test_frequent_paths_null_state_dropped(spark):
    from topnotch_spark.operators.temporal import frequent_paths

    df = spark.createDataFrame(
        [(1, 1.0, 1, "a"), (1, 2.0, 2, None), (1, 3.0, 3, "b"),
         (1, 4.0, 4, "c")],
        "user_id long, ts double, event_id long, event_type string",
    )
    got = [
        (r["path"], r["n_occurrences"])
        for r in frequent_paths(
            df, "user_id", "ts", "event_id", "event_type", n_steps=3, k=10
        ).collect()
    ]
    # windows touching the NULL state vanish entirely (never shortened)
    assert got == []


def test_frequent_paths_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "sequence",
                "input": {
                    "ref": "/root/testdata/sf0.001/events.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "paths",
                    "keyColumn": "user_id",
                    "stateColumn": "event_type",
                    "nSteps": 2,
                    "k": 5,
                },
                "outputKey": "paths",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["paths"].collect()
    assert len(rows) == 5
    assert [r["rank"] for r in rows] == sorted(r["rank"] for r in rows)


def test_benford_hand_computed(spark):
    """Digit counts from hand-built values; zero-observation digits
    still appear; negatives/zeros/sub-scale values excluded."""
    import math

    from topnotch_spark.operators.drift import benford_first_digit

    vals = [1.23, 19.99, 123.0, 2.5, 0.31, -7.0, 0.0, None, 0.004, 91.0]
    # scaled cents: 123, 1999, 12300, 250, 31, excluded(-700<1? no:
    # -700 < 1 -> excluded), 0 excluded, null excluded, 0.4->0 excluded,
    # 9100 -> digits: 1,1,1,2,3,9
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    rows = {r["digit"]: r for r in benford_first_digit(df, "x").collect()}
    assert sorted(rows) == list(range(1, 10))
    assert [rows[d]["n"] for d in range(1, 10)] == [3, 1, 1, 0, 0, 0, 0, 0, 1]
    assert rows[1]["observed_p"] == 0.5
    assert rows[1]["expected_p"] == round(math.log10(2), 6)
    assert rows[4]["n"] == 0 and rows[4]["observed_p"] == 0.0
    assert rows[9]["abs_dev"] == round(
        abs(round(1 / 6, 6) - round(math.log10(1 + 1 / 9), 6)), 6
    )


def test_benford_rejects_non_power_of_ten_scale(spark):
    import pytest as _pytest

    from topnotch_spark.operators.drift import benford_first_digit

    df = spark.createDataFrame([(1.0,)], "x double")
    with _pytest.raises(ValueError, match="power of 10"):
        benford_first_digit(df, "x", int_scale=50)


def test_benford_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "drift",
                "input": {
                    "ref": "/root/testdata/sf0.001/orders.parquet",
                    "onDisk": True,
                },
                "params": {"method": "benford", "column": "o_totalprice"},
                "outputKey": "benford",
            },
            {
                "command": "assertion",
                "input": {"ref": "benford", "onDisk": False},
                "params": {"assertions": [
                    {"query": "abs_dev <= 0.2",
                     "description": "first-digit law sanity band",
                     "threshold": 0.0}
                ]},
                "outputKey": "gate",
            },
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["benford"].collect()
    assert [r["digit"] for r in rows] == list(range(1, 10))
    assert abs(sum(r["observed_p"] for r in rows) - 1.0) < 1e-4


def test_cross_source_dup_matrix_hand_built(spark):
    """Near-identical docs across two sources plus a within-source pair:
    the matrix must attribute pairs symmetrically (least/greatest)."""
    from topnotch_spark.operators.dedup import cross_source_dup_matrix

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base, "web"),
            (2, base + " extra", "books"),      # cross-source near-dup
            (3, base, "web"),                   # within-web dup of 1
            (4, "completely different text about spark shuffles and joins",
             "books"),
        ],
        "doc_id long, text string, source string",
    )
    with dedup_scope():
        rows = {
            (r["source_x"], r["source_y"]): (r["n_pairs"], r["within_source"])
            for r in cross_source_dup_matrix(
                docs, "doc_id", "text", "source",
                num_hashes=16, bands=4, threshold=0.5, shingle_n=3,
            ).collect()
        }
    assert rows[("web", "web")] == (1, True)
    assert ("books", "web") in rows and rows[("books", "web")][1] is False
    assert ("web", "books") not in rows  # canonical ordering only


def test_cross_source_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "dedup",
                "input": {
                    "ref": "/root/testdata/sf0.001/documents.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "sourceMatrix",
                    "idColumn": "doc_id",
                    "textColumn": "text",
                    "sourceColumn": "source",
                    "numHashes": 16, "bands": 4,
                    "threshold": 0.5, "shingleN": 5,
                },
                "outputKey": "matrix",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    for r in engine.registry["matrix"].collect():
        assert r["source_x"] <= r["source_y"] and r["n_pairs"] >= 1

    # parse-time validation: sourceColumn required
    plan["commands"][0]["params"].pop("sourceColumn")
    p.write_text(json.dumps(plan))
    with pytest.raises(ValueError, match="sourceColumn"):
        TnEngine(spark).run(str(p))


def test_cluster_silhouette_hand_built(spark):
    """Two tight orthogonal clusters seeded by their first members:
    every vector sits deep inside its list -> silhouette near 1; a
    vector exactly between two centroids scores near 0."""
    from topnotch_spark.operators.similarity import cluster_silhouette

    vecs = [
        (0, [1.0, 0.0, 0.0]),      # centroid A (seed)
        (1, [0.0, 1.0, 0.0]),      # centroid B (seed)
        (2, [0.9, 0.1, 0.0]),      # deep in A
        (3, [0.1, 0.9, 0.0]),      # deep in B
        (4, [1.0, 1.0, 0.0]),      # equidistant boundary vector
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    rows = {
        r["centroid_id"]: r
        for r in cluster_silhouette(df, n_centroids=2).collect()
    }
    assert set(rows) == {0, 1}
    # seeds themselves: cc1 = 1, cc2 = 0 -> s = 1.0 exactly
    assert rows[0]["n_members"] == 3  # seed 0, vec 2, boundary vec 4 (tie->0)
    assert rows[1]["n_members"] == 2
    assert rows[0]["mean_silhouette"] > 0.5
    assert rows[0]["min_silhouette"] == 0.0  # the boundary vector
    assert rows[1]["min_silhouette"] > 0.5


def test_cluster_silhouette_trained_centroids_frame(spark):
    """Passing an explicit centroids frame grades a trained index with
    the identical scoring path."""
    from topnotch_spark.operators.similarity import cluster_silhouette

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    cents = spark.createDataFrame(
        [(10, [1.0, 0.0]), (20, [0.0, 1.0])],
        "centroid_id int, centroid array<double>",
    )
    rows = {
        r["centroid_id"]: r["n_members"]
        for r in cluster_silhouette(df, centroids=cents).collect()
    }
    assert rows == {10: 2, 20: 1}


def test_cluster_silhouette_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "similarity",
                "corpus": {
                    "ref": "/root/testdata/sf0.001/embeddings.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "silhouette",
                    "idColumn": "vec_id",
                    "vecColumn": "embedding",
                    "nCentroids": 8,
                },
                "outputKey": "sil",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["sil"].collect()
    assert 0 < len(rows) <= 8
    assert all(0.0 <= r["mean_silhouette"] <= 1.0 for r in rows)


def test_paths_stream_cross_batch(spark, tmp_path):
    """A 3-step path straddling two micro-batches must be emitted (the
    carry state), already-complete carry windows must not re-emit, and
    a NULL state must drop the windows that touch it."""
    import datetime as dt
    import os

    from pyspark.sql import functions as F

    from topnotch_spark.streaming import (
        run_stream_to_table,
        stream_from_parquet,
    )
    from topnotch_spark.streaming.stateful import paths_stream

    schema = "event_id long, ts timestamp, user_id long, event_type string"
    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    # user 1: a b | c d  -> paths abc (cross-batch), bcd (cross-batch)
    # user 2: a NULL b c | d -> windows touching NULL drop; bcd crosses
    batches = [
        [(1, ts(0), 1, "a"), (2, ts(1), 1, "b"),
         (3, ts(0), 2, "a"), (4, ts(1), 2, None), (5, ts(2), 2, "b"),
         (6, ts(3), 2, "c")],
        [(7, ts(2), 1, "c"), (8, ts(3), 1, "d"), (9, ts(4), 2, "d")],
    ]
    src = str(tmp_path / "replay")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{src}/part{i}"
        )
    stream = stream_from_parquet(
        spark, f"{src}/part*", schema=schema, max_files_per_trigger=1
    )
    out = run_stream_to_table(
        paths_stream(stream, n_steps=3),
        output_mode="append",
        state_partitions=4,
    )
    got = sorted(
        (r["user_id"], r["path"])
        for r in out.select("user_id", "path").collect()
    )
    assert got == [
        (1, "a > b > c"),
        (1, "b > c > d"),
        (2, "b > c > d"),
    ]


def test_token_rank_shift_hand_built(spark):
    """Leaderboard semantics: a term that climbs ranks tops the list;
    off-board terms get rank vocab_k+1 and count 0 for that side."""
    from topnotch_spark.operators.drift import token_rank_shift

    ref = spark.createDataFrame(
        [(1, "aa aa aa bb bb cc")], "doc_id long, text string"
    )
    cur = spark.createDataFrame(
        [(2, "cc cc cc aa dd dd")], "doc_id long, text string"
    )
    # ref board: aa(3)#1 bb(2)#2 cc(1)#3 ; cur board: cc(3)#1 dd(2)#2 aa(1)#3
    rows = {
        r["token"]: (
            r["n_ref"], r["n_cur"], r["rank_ref"], r["rank_cur"],
            r["rank_shift"], r["rank"],
        )
        for r in token_rank_shift(ref, cur, vocab_k=10, k=10).collect()
    }
    assert rows["cc"] == (1, 3, 3, 1, 2, 2)
    assert rows["dd"] == (0, 2, 11, 2, 9, 1)   # off ref board: rank 11
    assert rows["bb"] == (2, 0, 2, 11, -9, 4)  # off cur board
    assert rows["aa"] == (3, 1, 1, 3, -2, 3)


def test_token_rank_shift_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    docs = "/root/testdata/sf0.001/documents.parquet"
    plan = {
        "commands": [
            {
                "command": "drift",
                "reference": {"ref": docs, "onDisk": True},
                "current": {"ref": docs, "onDisk": True},
                "params": {
                    "method": "tokenRankShift",
                    "column": "text",
                    "vocabK": 50,
                    "k": 5,
                },
                "outputKey": "shift",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["shift"].collect()
    # identical slices: every shift is 0
    assert len(rows) == 5 and all(r["rank_shift"] == 0 for r in rows)


def test_collocations_hand_computed(spark):
    """PMI on a hand-built corpus: the pinned pair tops the list; the
    frequent-but-independent pair scores lower; hapax pairs filtered."""
    import math

    from topnotch_spark.operators.textqc import collocations

    docs = spark.createDataFrame(
        [(1, "new york new york city hall city hall city hall "
             "the the the the")],
        "doc_id long, text string",
    )
    with dedup_scope():
        rows = [
            tuple(r)
            for r in collocations(
                docs, "doc_id", "text", min_count=2, k=10
            ).collect()
        ]
    nt, nb = 14, 13  # 14 tokens, 13 adjacent bigrams
    def pmi(np_, nl, nr):
        return round(math.log(np_ * nt * nt / (nb * nl * nr)), 6)
    assert rows == [
        ("new", "york", 2, 2, 2, pmi(2, 2, 2), 1),
        ("city", "hall", 3, 3, 3, pmi(3, 3, 3), 2),
        ("hall", "city", 2, 3, 3, pmi(2, 3, 3), 3),
        ("the", "the", 3, 4, 4, pmi(3, 4, 4), 4),
    ]


def test_collocations_plan_method(spark, tmp_path):
    from topnotch_spark.engine import TnEngine

    plan = {
        "commands": [
            {
                "command": "text",
                "input": {
                    "ref": "/root/testdata/sf0.001/documents.parquet",
                    "onDisk": True,
                },
                "params": {
                    "method": "collocations",
                    "idColumn": "doc_id",
                    "textColumn": "text",
                    "minCount": 3,
                    "k": 5,
                },
                "outputKey": "mwes",
            }
        ]
    }
    p = tmp_path / "plan.json"
    p.write_text(json.dumps(plan))
    engine = TnEngine(spark)
    assert engine.run(str(p)) == 0
    rows = engine.registry["mwes"].collect()
    assert len(rows) == 5
    assert all(r["n_pair"] >= 3 for r in rows)
    pmis = [r["pmi"] for r in rows]
    assert pmis == sorted(pmis, reverse=True)


def test_windowed_benford_batch_equivalence(spark):
    """The same code path on a batch frame is a plain groupBy — digit
    counts hand-checkable; sub-scale values drop."""
    import datetime as dt

    from topnotch_spark.streaming.ops import windowed_benford

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0, 1.23),              # 123 -> digit 1
        (2, t0, 19.99),             # 1999 -> 1
        (3, t0, 2.5),               # 250 -> 2
        (4, t0, 0.004),             # 0 -> dropped
        (5, t0 + dt.timedelta(days=1), 91.0),  # next window, digit 9
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, value double"
    )
    got = {
        (r["window_start"].day, r["digit"]): r["n_values"]
        for r in windowed_benford(df, window_duration="1 day").collect()
    }
    assert got == {(1, 1): 2, (1, 2): 1, (2, 9): 1}


def test_bpe_loop_under_checkpoint_dir(spark, tmp_path):
    """The 100 TB path: with a dedup checkpoint dir set, every per-round
    truncation is a parquet roundtrip (executor-loss-safe) — results
    must be identical and the checkpoints must be cleaned up on scope
    exit."""
    import os

    from topnotch_spark.operators.textqc import (
        bpe_fertility_by_group,
        bpe_merge_sequence,
    )

    docs = spark.createDataFrame(
        [(1, "low lower lowest low low", "a"), (2, "newer newest new", "b")],
        "doc_id long, text string, source string",
    )
    with dedup_scope():
        want_seq = [
            tuple(r)
            for r in bpe_merge_sequence(
                docs, "doc_id", "text", n_merges=4
            ).collect()
        ]
        want_fert = sorted(
            tuple(r)
            for r in bpe_fertility_by_group(
                docs, "doc_id", "text", "source", n_merges=4
            ).collect()
        )
    ckdir = str(tmp_path / "ck")
    with dedup_scope(checkpoint_dir=ckdir):
        got_seq = [
            tuple(r)
            for r in bpe_merge_sequence(
                docs, "doc_id", "text", n_merges=4
            ).collect()
        ]
        got_fert = sorted(
            tuple(r)
            for r in bpe_fertility_by_group(
                docs, "doc_id", "text", "source", n_merges=4
            ).collect()
        )
        assert os.path.isdir(ckdir) and os.listdir(ckdir)
    assert got_seq == want_seq
    assert got_fert == want_fert
    # scope exit released every checkpoint directory
    leftovers = os.listdir(ckdir) if os.path.isdir(ckdir) else []
    assert leftovers == []
