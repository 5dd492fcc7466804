"""Round-11 regression tests.

The r10 ADVICE found that the greedy iterative operators (mmr_rerank,
kcenter_select) deleted per-round parquet checkpoints that still backed
live frames on the checkpoint-dir path — every test previously exercised
only the localCheckpoint path, so the crash was invisible. These tests
run the exact plan-reachable scale path (dedup_scope(checkpoint_dir=…))
and assert (a) results identical to the in-memory run, (b) no
FileNotFound from eagerly-deleted round files, (c) the scope exit
cleans every checkpoint directory.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO


def _vecs(n: int, d: int, seed_mult: int = 7919):
    return {
        i: [((i * j * seed_mult) % 100) / 50.0 - 1.0 + 1e-3 for j in range(1, d + 1)]
        for i in range(n)
    }


class TestCheckpointDirIterativeOps:
    def test_mmr_rerank_checkpoint_dir_identical_and_cleaned(
        self, spark, tmp_path
    ):
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.similarity import mmr_rerank

        df = spark.createDataFrame(
            [(i, v) for i, v in _vecs(30, 8).items()],
            "vec_id long, embedding array<double>",
        )
        q = df.filter("vec_id < 3")
        with dedup_scope():
            baseline = sorted(
                map(
                    tuple,
                    mmr_rerank(
                        df, q, k=5, n_candidates=10, lambda_milli=700, dim=8
                    ).collect(),
                )
            )
        ckpt = tmp_path / "mmr_ckpt"
        with dedup_scope(checkpoint_dir=str(ckpt)):
            out = mmr_rerank(
                df, q, k=5, n_candidates=10, lambda_milli=700, dim=8
            )
            # two actions: the second re-scans every round's files — the
            # r10 bug deleted them after the first round, so ANY action
            # from round 2 on raised FileNotFound
            assert out.count() == len(baseline)
            got = sorted(map(tuple, out.collect()))
            # the per-round files actually spilled to parquet
            assert any(
                d.startswith(("cc_round_", "tn_ckpt_"))
                for d in os.listdir(ckpt)
            )
        assert got == baseline
        # scope exit released every round's checkpoint directory
        assert not os.path.exists(ckpt) or os.listdir(ckpt) == []

    def test_kcenter_select_checkpoint_dir_identical_and_cleaned(
        self, spark, tmp_path
    ):
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.similarity import kcenter_select

        df = spark.createDataFrame(
            [(i, v) for i, v in _vecs(20, 6, seed_mult=31).items()],
            "vec_id long, embedding array<double>",
        )
        with dedup_scope():
            baseline = sorted(
                map(tuple, kcenter_select(df, k=6, dim=6).collect())
            )
        ckpt = tmp_path / "kc_ckpt"
        with dedup_scope(checkpoint_dir=str(ckpt)):
            out = kcenter_select(df, k=6, dim=6)
            assert out.count() == 6
            got = sorted(map(tuple, out.collect()))
        assert got == baseline
        assert not os.path.exists(ckpt) or os.listdir(ckpt) == []

    def test_kcenter_select_checkpoint_dir_k1(self, spark, tmp_path):
        """k=1 edge: the seed-only path never enters the loop; the
        unused initial state checkpoint must still be cleaned."""
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.similarity import kcenter_select

        df = spark.createDataFrame(
            [(i, v) for i, v in _vecs(8, 4).items()],
            "vec_id long, embedding array<double>",
        )
        ckpt = tmp_path / "kc1_ckpt"
        with dedup_scope(checkpoint_dir=str(ckpt)):
            rows = kcenter_select(df, k=1, dim=4).collect()
        assert len(rows) == 1 and rows[0]["pick_rank"] == 1
        assert not os.path.exists(ckpt) or os.listdir(ckpt) == []

    def test_k_core_checkpoint_dir_identical_and_cleaned(
        self, spark, tmp_path
    ):
        """r10 low finding: k_core orphaned one survivor-set parquet per
        peeling round. Now rounds hand off (prev deleted once the next
        is materialized) and the final path is registered for release."""
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.graph import k_core

        # a 4-clique with pendant chains: multiple peeling rounds
        edges = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
                 (4, 5), (5, 6), (6, 7)]
        df = spark.createDataFrame(edges, "src long, dst long")
        with dedup_scope():
            baseline = sorted(map(tuple, k_core(df, k=3).collect()))
        ckpt = tmp_path / "kcore_ckpt"
        with dedup_scope(checkpoint_dir=str(ckpt)):
            out = k_core(df, k=3)
            assert out.count() == len(baseline)
            got = sorted(map(tuple, out.collect()))
            # only the last round's survivor set should remain on disk
            # (earlier rounds deleted by the prev-path handoff)
            round_dirs = [
                d for d in os.listdir(ckpt) if d.startswith("cc_round_")
            ]
            assert len(round_dirs) == 1
        assert got == baseline
        assert not os.path.exists(ckpt) or os.listdir(ckpt) == []


class TestSequenceLikelihoodNullStates:
    def test_null_state_excluded_from_vocab(self, spark):
        """|states| counts only non-NULL symbols — aligned with the
        DuckDB oracle's count(DISTINCT next), which skips NULLs. A NULL
        state can never score (null-unsafe transition joins in both
        engines), so counting it would shift every smoothed
        probability."""
        import math

        from topnotch_spark.operators.temporal import sequence_likelihood

        rows = [
            # user 1: a -> b -> a   (all transitions scoreable)
            (1, 1, 1, "a"), (1, 2, 2, "b"), (1, 3, 3, "a"),
            # user 2: a -> NULL -> a (NULL next + NULL prev drop out)
            (2, 1, 4, "a"), (2, 2, 5, None), (2, 3, 6, "a"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts long, event_id long, state string"
        )
        got = {
            r["user_id"]: (r["n_transitions"], r["avg_neg_logprob"])
            for r in sequence_likelihood(
                df, "user_id", "ts", "event_id", "state", k=1.0
            ).collect()
        }
        # vocabulary is {a, b} -> V=2 (NOT 3 with the NULL row).
        # transition counts over non-null prev:
        #   a->b:1, b->a:1, a->NULL:1 (unscoreable), NULL->a dropped
        # priors: c(a.)=2, c(b.)=1
        lp_ab = math.log((1 + 1.0) / (2 + 1.0 * 2))  # ln(2/4)
        lp_ba = math.log((1 + 1.0) / (1 + 1.0 * 2))  # ln(2/3)
        exp_u1 = round(-(lp_ab + lp_ba) / 2, 4)
        assert got[1] == (2, exp_u1)
        # user 2's only non-null-prev transition (a->NULL) cannot join
        # the model, so the user survives via the distinct-keys left
        # join with 0 scoreable transitions and a NULL score
        assert got[2][0] == 0 and got[2][1] is None


# ---------------------------------------------------------------------------
# BPE apply step (textqc.bpe_segment)
# ---------------------------------------------------------------------------


def _bpe_apply_py(word: str, merges: list[tuple[str, str]]) -> int:
    """Pure-Python replay of the greedy left-to-right non-overlapping
    merge fold: the subword count of ``word`` after applying the merge
    list in rank order (replace() semantics — continue scanning AFTER
    each replacement)."""
    syms = list(word)
    for lhs, rhs in merges:
        out, i = [], 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == lhs
                and syms[i + 1] == rhs
            ):
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return len(syms)


class TestBpeSegment:
    def test_matches_python_replay(self, spark):
        """Train on corpus A, apply to corpus B (with words unseen in
        A): per-doc counts match the pure-Python greedy fold of the
        trained merge list."""
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import (
            bpe_merge_sequence,
            bpe_segment,
        )

        dfa = spark.createDataFrame(
            [(1, "low lower lowest low low"), (2, "new newer newest new")],
            ["doc_id", "text"],
        )
        target_docs = {10: "low newer slower", 11: "zebra", 12: ""}
        dfb = spark.createDataFrame(
            list(target_docs.items()), ["doc_id", "text"]
        )
        with dedup_scope():
            merges = bpe_merge_sequence(dfa, "doc_id", "text", n_merges=6)
            mlist = [
                (r["lhs"], r["rhs"])
                for r in merges.orderBy("merge_rank").collect()
            ]
            got = {
                r["doc_id"]: r
                for r in bpe_segment(dfb, merges, "doc_id", "text").collect()
            }
        for doc_id, text in target_docs.items():
            words = text.lower().split()
            exp_sub = sum(_bpe_apply_py(w, mlist) for w in words)
            assert got[doc_id]["n_tokens"] == len(words)
            assert got[doc_id]["n_subwords"] == exp_sub
        # open vocabulary: every word segments (characters at worst) —
        # 'zebra' shares no trained merge, so 5 single chars
        assert got[11]["n_subwords"] == 5
        assert got[12]["n_tokens"] == 0 and got[12]["fertility"] is None

    def test_apply_on_training_corpus_matches_fertility_audit(self, spark):
        """Folding the emitted merge list over the training corpus
        reproduces the trainer's final state: bpe_segment's corpus
        totals equal bpe_fertility_by_group's (which re-runs the
        trainer internally and reads its final vocab state)."""
        from pyspark.sql import functions as F  # noqa: F811
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import (
            bpe_fertility_by_group,
            bpe_merge_sequence,
            bpe_segment,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        with dedup_scope():
            merges = bpe_merge_sequence(docs, "doc_id", "text", n_merges=6)
            seg_tot = (
                bpe_segment(docs, merges, "doc_id", "text")
                .agg(
                    F.sum("n_tokens").alias("t"),
                    F.sum("n_subwords").alias("s"),
                )
                .collect()[0]
            )
            fert_tot = (
                bpe_fertility_by_group(
                    docs, "doc_id", "text", "source", n_merges=6
                )
                .agg(
                    F.sum("n_tokens").alias("t"),
                    F.sum("n_subwords").alias("s"),
                )
                .collect()[0]
            )
        assert (seg_tot["t"], seg_tot["s"]) == (fert_tot["t"], fert_tot["s"])

    def test_empty_merge_list_segments_to_characters(self, spark):
        from topnotch_spark.operators.textqc import bpe_segment

        target = spark.createDataFrame([(1, "ab abc")], ["doc_id", "text"])
        merges = spark.createDataFrame(
            [], "merge_rank int, lhs string, rhs string"
        )
        row = bpe_segment(target, merges, "doc_id", "text").collect()[0]
        assert (row["n_tokens"], row["n_subwords"]) == (2, 5)

    def test_tokenize_plan_command_bpe(self, spark, tmp_path):
        """Train bpeMergeSequence in one command, encode via the
        registry with tokenize method 'bpe' in the next."""
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "docs.parquet")
        spark.createDataFrame(
            [(1, "aa ab aa ab"), (2, "ab ba ab")], ["doc_id", "text"]
        ).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "text",
                    "input": {"ref": src, "onDisk": True},
                    "params": {"method": "bpeMergeSequence",
                               "idColumn": "doc_id",
                               "textColumn": "text", "nMerges": 3},
                    "outputKey": "merges",
                },
                {
                    "command": "tokenize",
                    "input": {"ref": src, "onDisk": True},
                    "vocab": {"ref": "merges", "onDisk": False},
                    "params": {"method": "bpe", "idColumn": "doc_id",
                               "textColumn": "text"},
                    "outputKey": "encoded",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        rows = {r["doc_id"]: r for r in engine.registry["encoded"].collect()}
        assert set(rows) == {1, 2}
        assert all(r["n_subwords"] >= r["n_tokens"] for r in rows.values())

    def test_tokenize_plan_rejects_unigram_options_for_bpe(self):
        from topnotch_spark.plans.extensions import TokenizeCmd

        with pytest.raises(
            ValueError,
            match=r"tokenize method 'bpe' does not accept options "
            r"\['maxPieceLen'\]",
        ):
            TokenizeCmd.from_json(
                {
                    "command": "tokenize",
                    "input": {"ref": "a", "onDisk": False},
                    "vocab": {"ref": "b", "onDisk": False},
                    "params": {"method": "bpe", "idColumn": "doc_id",
                               "maxPieceLen": 4},
                    "outputKey": "x",
                }
            )

    def test_coverage_count_matches_catalog(self):
        """Docs drift guard (r10 verdict item 8): COVERAGE.md's
        hand-maintained inventory count must track the live catalog, so
        a session adding queries cannot silently drift the docs."""
        import re

        import __spark_entry__ as entry

        text = (REPO / "COVERAGE.md").read_text()
        m = re.search(r"Catalog total: (\d+) queries", text)
        assert m, "COVERAGE.md lost its 'Catalog total: N queries' marker"
        assert int(m.group(1)) == len(entry.queries())
        # r13 extension (r12 verdict item 6): the TOPMOST per-round
        # "Catalog at close: N queries." marker must also track the
        # live catalog, so close prose can't drift from the artifacts
        # the way the round-12 close paragraph did.
        m2 = re.search(r"Catalog at close: (\d+) queries\.", text)
        assert m2, (
            "COVERAGE.md's current round section lost its 'Catalog at "
            "close: N queries.' marker"
        )
        assert int(m2.group(1)) == len(entry.queries())

    def test_tokenize_plan_rejects_unknown_method(self):
        from topnotch_spark.plans.extensions import TokenizeCmd

        with pytest.raises(ValueError, match="unknown method"):
            TokenizeCmd.from_json(
                {
                    "command": "tokenize",
                    "input": {"ref": "a", "onDisk": False},
                    "vocab": {"ref": "b", "onDisk": False},
                    "params": {"method": "sentencepiece",
                               "idColumn": "doc_id"},
                    "outputKey": "x",
                }
            )


# ---------------------------------------------------------------------------
# Span-rewrite dedup (dedup.rewrite_duplicate_spans, Lee 2022 cut/keep-first)
# ---------------------------------------------------------------------------


def _spans_rewrite_py(
    docs: dict[int, str], k: int, min_occ: int
) -> dict[int, tuple[int, int, int, str]]:
    """Pure-Python replay: window extraction, keep-first per span over
    global (id, pos) order, range union, token cut."""
    toks = {i: t.lower().split() for i, t in docs.items()}
    occ: dict[str, list[tuple[int, int]]] = {}
    for i in sorted(toks):
        ts = toks[i]
        for p in range(max(len(ts) - k + 1, 0)):
            occ.setdefault(" ".join(ts[p:p + k]), []).append((i, p))
    cut: dict[int, set[int]] = {i: set() for i in toks}
    for span, places in occ.items():
        if len(places) < min_occ:
            continue
        for i, p in sorted(places)[1:]:  # keep-first
            cut[i].update(range(p, p + k))
    out = {}
    for i, ts in toks.items():
        kept = [t for p, t in enumerate(ts) if p not in cut[i]]
        out[i] = (len(ts), len(ts) - len(kept), len(kept), " ".join(kept))
    return out


class TestSpansRewrite:
    DOCS = {
        1: "alpha beta gamma delta unique one",
        2: "prefix alpha beta gamma delta suffix",
        3: "alpha beta gamma delta",
        4: "totally different text here",
        5: "x alpha beta gamma delta y alpha beta gamma delta z",
        6: "",
    }

    def test_matches_python_replay(self, spark):
        from topnotch_spark.operators.dedup import (
            dedup_scope,
            rewrite_duplicate_spans,
        )

        df = spark.createDataFrame(
            list(self.DOCS.items()), ["doc_id", "text"]
        )
        with dedup_scope():
            got = {
                r["id"]: (
                    r["n_tokens_in"], r["n_tokens_cut"],
                    r["n_tokens_out"], r["text_rewritten"],
                )
                for r in rewrite_duplicate_spans(
                    df, "doc_id", "text", span_tokens=4, min_occurrences=2
                ).collect()
            }
        assert got == _spans_rewrite_py(self.DOCS, 4, 2)

    def test_conservation_on_corpus(self, spark):
        """tokens_out = tokens_in − cut spans, corpus-wide, at the
        catalog's own parameters on real testdata."""
        from pyspark.sql import functions as F  # noqa: F811
        from topnotch_spark.operators.dedup import (
            dedup_scope,
            rewrite_duplicate_spans,
        )

        docs = spark.read.parquet(
            "/root/testdata/sf0.001/documents.parquet"
        )
        with dedup_scope():
            out = rewrite_duplicate_spans(
                docs, "doc_id", "text", span_tokens=20, min_occurrences=2
            )
            rows = out.withColumn(
                "rebuilt_tokens",
                F.size(F.filter(F.split("text_rewritten", " "),
                                lambda t: t != F.lit(""))),
            ).collect()
        assert len(rows) == docs.count()
        for r in rows:
            assert r["n_tokens_out"] == r["n_tokens_in"] - r["n_tokens_cut"]
            # the rewritten text really contains n_tokens_out tokens
            assert r["rebuilt_tokens"] == r["n_tokens_out"]

    def test_first_occurrence_survives(self, spark):
        from topnotch_spark.operators.dedup import (
            dedup_scope,
            rewrite_duplicate_spans,
        )

        df = spark.createDataFrame(
            list(self.DOCS.items()), ["doc_id", "text"]
        )
        with dedup_scope():
            got = {
                r["id"]: r["text_rewritten"]
                for r in rewrite_duplicate_spans(
                    df, "doc_id", "text", span_tokens=4, min_occurrences=2
                ).collect()
            }
        assert got[1] == self.DOCS[1]  # first occurrence keeps its text
        assert "alpha" not in got[2] and got[2] == "prefix suffix"
        assert got[3] == ""            # fully duplicated doc empties
        assert got[5] == "x y z"       # both later occurrences cut
        assert got[6] == ""            # empty doc survives as empty

    def test_spans_rewrite_plan_method(self, spark, tmp_path):
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "docs_sr.parquet")
        spark.createDataFrame(
            list(self.DOCS.items()), ["doc_id", "text"]
        ).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "dedup",
                    "input": {"ref": src, "onDisk": True},
                    "params": {"method": "spansRewrite",
                               "idColumn": "doc_id",
                               "textColumn": "text",
                               "spanTokens": 4, "minOccurrences": 2},
                    "outputKey": "rewritten",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        rows = engine.registry["rewritten"].collect()
        assert len(rows) == len(self.DOCS)
        assert all(
            r["n_tokens_out"] == r["n_tokens_in"] - r["n_tokens_cut"]
            for r in rows
        )


# ---------------------------------------------------------------------------
# Incremental near-dup ingestion (dedup.build_minhash_index + batch screen)
# ---------------------------------------------------------------------------


class TestIncrementalMinhash:
    def _docs(self, spark):
        rows = [
            (0, "the quick brown fox jumps over the lazy dog tonight"),
            (2, "completely different content about spark and parquet"),
            (4, "a third unrelated document mentioning window functions"),
            # batch (odd ids):
            (1, "the quick brown fox jumps over the lazy dog tonight"),
            (3, "fresh new text that matches nothing in the index"),
            (5, ""),  # no shingles -> trivially kept
        ]
        return spark.createDataFrame(rows, ["doc_id", "text"])

    def test_near_dup_flagged_fresh_kept(self, spark):
        from topnotch_spark.operators.dedup import (
            build_minhash_index,
            dedup_batch_against_minhash_index,
            dedup_scope,
        )

        docs = self._docs(spark)
        with dedup_scope():
            idx = build_minhash_index(
                docs.filter("doc_id % 2 = 0"), "doc_id", "text"
            )
            got = {
                r["doc_id"]: r
                for r in dedup_batch_against_minhash_index(
                    docs.filter("doc_id % 2 = 1"), idx, "doc_id", "text",
                    threshold=0.5,
                ).collect()
            }
        # doc 1 is an exact copy of doc 0: every signature component
        # agrees -> estimate 1.0, not kept
        assert got[1]["best_match_id"] == 0
        assert got[1]["best_est_jaccard"] == 1.0
        assert got[1]["keep"] is False
        # fresh content and the empty doc survive
        assert got[3]["keep"] is True
        assert got[5]["keep"] is True and got[5]["n_candidates"] == 0

    def test_index_roundtrips_through_parquet(self, spark, tmp_path):
        """The index is a persistable artifact: write it, read it back
        in a later 'run', screen a batch — identical to the in-memory
        path (the signature family is deterministic across runs)."""
        from topnotch_spark.operators.dedup import (
            build_minhash_index,
            dedup_batch_against_minhash_index,
            dedup_scope,
        )

        docs = self._docs(spark)
        idx_path = str(tmp_path / "mh_index")
        with dedup_scope():
            build_minhash_index(
                docs.filter("doc_id % 2 = 0"), "doc_id", "text"
            ).write.parquet(idx_path)
            mem = sorted(
                map(
                    tuple,
                    dedup_batch_against_minhash_index(
                        docs.filter("doc_id % 2 = 1"),
                        build_minhash_index(
                            docs.filter("doc_id % 2 = 0"), "doc_id", "text"
                        ),
                        "doc_id",
                        "text",
                    ).collect(),
                )
            )
            disk = sorted(
                map(
                    tuple,
                    dedup_batch_against_minhash_index(
                        docs.filter("doc_id % 2 = 1"),
                        spark.read.parquet(idx_path),
                        "doc_id",
                        "text",
                    ).collect(),
                )
            )
        assert mem == disk

    def test_incremental_minhash_plan_method(self, spark, tmp_path):
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "mh_docs.parquet")
        self._docs(spark).write.parquet(src)
        idx_src = str(tmp_path / "mh_even.parquet")
        self._docs(spark).filter("doc_id % 2 = 0").write.parquet(idx_src)
        plan = {
            "commands": [
                {
                    "command": "dedup",
                    "input": {"ref": src, "onDisk": True},
                    "index": {"ref": idx_src, "onDisk": True},
                    "params": {"method": "incrementalMinhash",
                               "idColumn": "doc_id",
                               "textColumn": "text", "threshold": 0.5},
                    "outputKey": "screened",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        rows = {r["doc_id"]: r for r in engine.registry["screened"].collect()}
        # the raw-snapshot index input was auto-built; the exact copy
        # (doc 0 appears in BOTH input and index) is flagged
        assert rows[0]["keep"] is False  # doc 0 matches itself in index
        assert rows[3]["keep"] is True

    def test_plan_requires_index_input(self):
        from topnotch_spark.plans.extensions import DedupCmd

        with pytest.raises(ValueError, match='requires an .index. input'):
            DedupCmd.from_json(
                {
                    "command": "dedup",
                    "input": {"ref": "a", "onDisk": False},
                    "params": {"method": "incrementalMinhash",
                               "idColumn": "doc_id"},
                    "outputKey": "x",
                }
            )


# ---------------------------------------------------------------------------
# WordPiece-style tokenizer family (textqc.wordpiece_vocab / _segment)
# ---------------------------------------------------------------------------


def _wp_vocab_py(
    docs: list[str], max_piece_len: int, vocab_size: int, max_word_len: int
) -> set[str]:
    from collections import Counter

    wc = Counter(
        w
        for t in docs
        for w in t.lower().split()
        if len(w) <= max_word_len
    )
    cand: Counter = Counter()
    for w, c in wc.items():
        for p in range(len(w)):
            for l in range(1, min(max_piece_len, len(w) - p) + 1):
                cand[w[p:p + l]] += c
    chars = {p for p in cand if len(p) == 1}
    multi = sorted(
        (p for p in cand if len(p) >= 2),
        key=lambda p: (-cand[p], p),
    )[:vocab_size]
    return chars | set(multi)


def _wp_walk_py(word: str, pieces: set[str], max_piece_len: int):
    """Greedy longest-match-first; None when stuck."""
    pos, n = 0, 0
    while pos < len(word):
        step = 0
        for l in range(min(max_piece_len, len(word) - pos), 0, -1):
            if word[pos:pos + l] in pieces:
                step = l
                break
        if step == 0:
            return None
        pos += step
        n += 1
    return n


class TestWordpiece:
    DOCS = ["hello hell low lower", "hello world lowly", "hell no"]

    def test_segment_matches_python_replay(self, spark):
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import (
            wordpiece_segment,
            wordpiece_vocab,
        )

        df = spark.createDataFrame(
            list(enumerate(self.DOCS)), ["doc_id", "text"]
        )
        with dedup_scope():
            v = wordpiece_vocab(
                df, "doc_id", "text", max_piece_len=4, vocab_size=6
            )
            got = {
                r["doc_id"]: (r["n_tokens"], r["n_subwords"])
                for r in wordpiece_segment(
                    df, v, "doc_id", "text", max_piece_len=4
                ).collect()
            }
        pieces = _wp_vocab_py(self.DOCS, 4, 6, 12)
        for i, t in enumerate(self.DOCS):
            words = t.lower().split()
            subs = [_wp_walk_py(w, pieces, 4) for w in words]
            scorable = [s for s in subs if s is not None]
            assert got[i] == (len(scorable), sum(scorable))

    def test_unseen_char_word_excluded(self, spark):
        """A target word with a character absent from training cannot
        walk — excluded like unigram_segment's uncoverable words."""
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import (
            wordpiece_segment,
            wordpiece_vocab,
        )

        train = spark.createDataFrame(
            [(1, "abc abd abe")], ["doc_id", "text"]
        )
        target = spark.createDataFrame(
            [(10, "abc xyz"), (11, "")], ["doc_id", "text"]
        )
        with dedup_scope():
            v = wordpiece_vocab(train, "doc_id", "text", vocab_size=4)
            got = {
                r["doc_id"]: r
                for r in wordpiece_segment(
                    target, v, "doc_id", "text"
                ).collect()
            }
        assert got[10]["n_tokens"] == 1  # only 'abc' is walkable
        assert got[11]["n_tokens"] == 0 and got[11]["fertility"] is None

    def test_greedy_longest_match_property(self, spark):
        """'hello' with vocab {h,e,l,o,hell} walks hell+o (2 pieces),
        never h+e+l+l+o — the longest-match-first contract."""
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import wordpiece_segment

        target = spark.createDataFrame([(1, "hello")], ["doc_id", "text"])
        vocab = spark.createDataFrame(
            [("h",), ("e",), ("l",), ("o",), ("hell",)], ["piece"]
        )
        with dedup_scope():
            row = wordpiece_segment(
                target, vocab, "doc_id", "text"
            ).collect()[0]
        assert (row["n_tokens"], row["n_subwords"]) == (1, 2)

    def test_wordpiece_checkpoint_dir_identical_and_cleaned(
        self, spark, tmp_path
    ):
        """The walk's parquet-checkpoint path: identical results, and
        the lmatch + round files are released on scope exit."""
        import os

        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import (
            wordpiece_segment,
            wordpiece_vocab,
        )

        df = spark.createDataFrame(
            list(enumerate(self.DOCS)), ["doc_id", "text"]
        )
        with dedup_scope():
            v = wordpiece_vocab(
                df, "doc_id", "text", max_piece_len=4, vocab_size=6
            )
            baseline = sorted(
                map(
                    tuple,
                    wordpiece_segment(
                        df, v, "doc_id", "text", max_piece_len=4
                    ).collect(),
                )
            )
        ckpt = tmp_path / "wp_ckpt"
        with dedup_scope(checkpoint_dir=str(ckpt)):
            v = wordpiece_vocab(
                df, "doc_id", "text", max_piece_len=4, vocab_size=6
            )
            out = wordpiece_segment(df, v, "doc_id", "text", max_piece_len=4)
            assert out.count() == len(baseline)  # second action below re-scans
            got = sorted(map(tuple, out.collect()))
        assert got == baseline
        assert not os.path.exists(ckpt) or os.listdir(ckpt) == []

    def test_wordpiece_plan_lifecycle(self, spark, tmp_path):
        """text method wordpieceVocab trains into the registry;
        tokenize method 'wordpiece' encodes with it."""
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "wp_docs.parquet")
        spark.createDataFrame(
            list(enumerate(self.DOCS)), ["doc_id", "text"]
        ).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "text",
                    "input": {"ref": src, "onDisk": True},
                    "params": {"method": "wordpieceVocab",
                               "idColumn": "doc_id",
                               "textColumn": "text",
                               "maxPieceLen": 4, "vocabSize": 6},
                    "outputKey": "wpvocab",
                },
                {
                    "command": "tokenize",
                    "input": {"ref": src, "onDisk": True},
                    "vocab": {"ref": "wpvocab", "onDisk": False},
                    "params": {"method": "wordpiece", "idColumn": "doc_id",
                               "textColumn": "text", "maxPieceLen": 4},
                    "outputKey": "wp_encoded",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        rows = {
            r["doc_id"]: r for r in engine.registry["wp_encoded"].collect()
        }
        assert set(rows) == set(range(len(self.DOCS)))
        assert all(
            r["n_subwords"] >= r["n_tokens"] for r in rows.values()
        )

    def test_vocab_contains_all_chars_plus_topn(self, spark):
        from topnotch_spark.operators.dedup import dedup_scope
        from topnotch_spark.operators.textqc import wordpiece_vocab

        df = spark.createDataFrame(
            list(enumerate(self.DOCS)), ["doc_id", "text"]
        )
        with dedup_scope():
            rows = wordpiece_vocab(
                df, "doc_id", "text", max_piece_len=4, vocab_size=6
            ).collect()
        pieces = {r["piece"] for r in rows}
        assert pieces == _wp_vocab_py(self.DOCS, 4, 6, 12)
        # rank is dense 1..N in (count desc, piece asc) order
        ranked = sorted(rows, key=lambda r: r["rank"])
        assert [r["rank"] for r in ranked] == list(range(1, len(rows) + 1))
        counts = [r["n_occurrences"] for r in ranked]
        assert counts == sorted(counts, reverse=True)


# ---------------------------------------------------------------------------
# Streaming state-store backend knob (SPARK_GRAFT_STATE_STORE)
# ---------------------------------------------------------------------------


class TestStateStoreKnob:
    def test_rocksdb_env_sets_provider(self, spark, monkeypatch):
        from topnotch_spark.session import get_spark

        key = "spark.sql.streaming.stateStore.providerClass"
        monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
        s = get_spark("knob-test")
        try:
            assert s.conf.get(key).endswith("RocksDBStateStoreProvider")
        finally:
            s.conf.unset(key)

    def test_invalid_value_rejected(self, monkeypatch):
        from topnotch_spark.session import get_spark

        monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "cassandra")
        with pytest.raises(ValueError, match="hdfs.*rocksdb|rocksdb"):
            get_spark("knob-bad")

    def test_stateful_query_identical_under_rocksdb(self, spark):
        """The provider is a storage choice, not a semantics choice:
        the ewma stateful stream produces identical rows under both
        backends (SCALE.md §4's measured pair)."""
        import __spark_entry__ as entry

        key = "spark.sql.streaming.stateStore.providerClass"
        fn = entry.queries()["streaming_ewma"]
        sf = "/root/testdata/sf0.001"
        baseline = sorted(map(tuple, fn(spark, sf).collect()))
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            got = sorted(map(tuple, fn(spark, sf).collect()))
        finally:
            spark.conf.unset(key)
        assert got == baseline


# ---------------------------------------------------------------------------
# Incremental-dedup index compaction (dedup.upsert_dedup_index)
# ---------------------------------------------------------------------------


class TestIndexCompaction:
    def test_three_sequential_batches_stable_index(self, spark, tmp_path):
        """Drive 3 ingestion rounds through the on-disk bucketed index:
        content is stable (matches the in-memory fold), replays are
        idempotent, and the index never grows past distinct-content
        size."""
        import os

        from topnotch_spark.operators.dedup import (
            dedup_against_index,
            dedup_scope,
            upsert_dedup_index,
        )

        idx_path = str(tmp_path / "dedup_index")
        texts = {i: f"content {i % 7}" for i in range(21)}  # 7 distinct
        batches = [
            spark.createDataFrame(
                [(i, texts[i]) for i in range(r * 7, (r + 1) * 7)],
                ["doc_id", "text"],
            )
            for r in range(3)
        ]
        with dedup_scope():
            # round 0 creates the index from its own accepted rows
            from pyspark.sql import functions as F  # noqa: F811

            first = batches[0].select(
                F.md5(F.coalesce("text", F.lit(""))).alias("dup_key"),
                F.col("doc_id").alias("index_id"),
            )
            stats0 = upsert_dedup_index(spark, idx_path, first).collect()[0]
            assert stats0["n_entries_written"] == 7
            for b in batches[1:]:
                index = spark.read.parquet(idx_path).select(
                    "dup_key", "index_id"
                )
                accepted = (
                    dedup_against_index(b, index, "doc_id", "text")
                    .filter("keep")
                    .select("dup_key", F.col("doc_id").alias("index_id"))
                )
                upsert_dedup_index(spark, idx_path, accepted).collect()
        final = spark.read.parquet(idx_path)
        rows = {r["dup_key"]: r["index_id"] for r in final.collect()}
        # stable: all content seen in round 0, so owners are 0..6 and
        # later rounds added NOTHING
        assert sorted(rows.values()) == list(range(7))
        assert final.count() == 7  # never grew past distinct content

    def test_untouched_buckets_not_rewritten(self, spark, tmp_path):
        """The partition-pruning contract: an upsert touching one
        bucket must not rewrite the others' files (checked by mtime)."""
        import glob
        import os
        import time

        from pyspark.sql import functions as F  # noqa: F811
        from topnotch_spark.operators.dedup import (
            dedup_scope,
            upsert_dedup_index,
        )

        idx_path = str(tmp_path / "bucket_index")
        base = spark.createDataFrame(
            [(i, f"doc number {i}") for i in range(40)], ["doc_id", "text"]
        ).select(
            F.md5(F.coalesce("text", F.lit(""))).alias("dup_key"),
            F.col("doc_id").alias("index_id"),
        )
        with dedup_scope():
            upsert_dedup_index(spark, idx_path, base).collect()
            before = {
                f: os.path.getmtime(f)
                for f in glob.glob(f"{idx_path}/bucket=*/*.parquet")
            }
            assert len({os.path.dirname(f) for f in before}) > 1
            # single new entry -> exactly one bucket touched
            one = spark.createDataFrame(
                [(999, "a brand new document")], ["doc_id", "text"]
            ).select(
                F.md5(F.coalesce("text", F.lit(""))).alias("dup_key"),
                F.col("doc_id").alias("index_id"),
            )
            time.sleep(1.1)  # mtime granularity
            stats = upsert_dedup_index(spark, idx_path, one).collect()[0]
        assert stats["n_buckets_touched"] == 1
        touched_dirs = set()
        for f, m in before.items():
            if not os.path.exists(f) or os.path.getmtime(f) != m:
                touched_dirs.add(os.path.dirname(f))
        # at most the one bucket the new key hashes into changed
        assert len(touched_dirs) <= 1
        # and the new entry is readable alongside the old ones
        assert spark.read.parquet(idx_path).count() == 41

    def test_empty_batch_noop(self, spark, tmp_path):
        from pyspark.sql import functions as F  # noqa: F811
        from topnotch_spark.operators.dedup import (
            dedup_scope,
            upsert_dedup_index,
        )

        idx_path = str(tmp_path / "noop_index")
        base = spark.createDataFrame(
            [(1, "something")], ["doc_id", "text"]
        ).select(
            F.md5(F.coalesce("text", F.lit(""))).alias("dup_key"),
            F.col("doc_id").alias("index_id"),
        )
        empty = base.filter("index_id < 0")
        with dedup_scope():
            upsert_dedup_index(spark, idx_path, base).collect()
            stats = upsert_dedup_index(spark, idx_path, empty).collect()[0]
        assert (stats["n_buckets_touched"], stats["n_entries_written"]) == (
            0,
            0,
        )
        assert spark.read.parquet(idx_path).count() == 1


# ---------------------------------------------------------------------------
# Trained-clustering SemDeDup path (kmeans_centroids_exact -> semantic_dedup)
# ---------------------------------------------------------------------------


class TestKmeansExact:
    def _df(self, spark):
        # three well-separated 4-dim clusters around axis vectors
        rows = []
        for i in range(30):
            axis = i % 3
            v = [0.05 * ((i * 7) % 5)] * 4
            v[axis] += 1.0
            rows.append((i, v))
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>"
        )

    def test_recovers_separable_clusters(self, spark):
        from topnotch_spark.operators.similarity import kmeans_centroids_exact

        cents, assign = kmeans_centroids_exact(
            self._df(spark), n_centroids=3, n_rounds=4
        )
        groups: dict[int, set[int]] = {}
        for r in assign.collect():
            groups.setdefault(r["centroid_id"], set()).add(r["id"] % 3)
        # every trained cluster is pure: one axis family per centroid
        assert all(len(g) == 1 for g in groups.values())
        n = {r["centroid_id"]: r["n_members"] for r in cents.collect()}
        assert sum(n.values()) == 30

    def test_deterministic_across_runs_and_layouts(self, spark):
        """The exactness contract: identical output even when the input
        partitioning differs (the double-mean kmeans only promises
        determinism GIVEN a fixed layout)."""
        from topnotch_spark.operators.similarity import kmeans_centroids_exact

        df = self._df(spark)
        c1, a1 = kmeans_centroids_exact(df, n_centroids=3, n_rounds=3)
        c2, a2 = kmeans_centroids_exact(
            df.repartition(7, "vec_id"), n_centroids=3, n_rounds=3
        )
        assert sorted(map(tuple, c1.collect())) == sorted(
            map(tuple, c2.collect())
        )
        assert sorted(map(tuple, a1.collect())) == sorted(
            map(tuple, a2.collect())
        )

    def test_mean_micro_half_away_from_zero(self):
        from topnotch_spark.operators.similarity import kmeans_centroids_exact  # noqa: F401
        # the in-closure helper is exercised end-to-end above; replicate
        # the formula here to pin the rounding convention
        def mm(s, n):
            return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))

        assert mm(3, 2) == 2      # 1.5 -> 2
        assert mm(-3, 2) == -2    # -1.5 -> -2
        assert mm(5, 2) == 3      # 2.5 -> 3
        assert mm(4, 2) == 2      # exact 2
        assert mm(-1, 3) == 0     # -0.33 -> 0 (half-away, not floor)

    def test_semantic_dedup_accepts_trained_centroids(self, spark):
        from topnotch_spark.operators.dedup import dedup_scope, semantic_dedup
        from topnotch_spark.operators.similarity import kmeans_centroids_exact

        df = self._df(spark)
        with dedup_scope():
            cents, assign = kmeans_centroids_exact(
                df, n_centroids=3, n_rounds=3
            )
            out = semantic_dedup(
                df, "vec_id", "embedding", threshold=0.999, centroids=cents
            ).collect()
            exp_assign = {r["id"]: r["centroid_id"] for r in assign.collect()}
        # assignment under the trained centroids matches kmeans's own
        # (same max-cos/lower-id convention; cosine snap can only differ
        # on micro-unit knife edges absent from this synthetic data)
        assert {r["id"]: r["centroid_id"] for r in out} == exp_assign
        # identical vectors within a cluster dedup; the keeper is the
        # lowest id of each duplicate set
        kept = {r["id"] for r in out if r["keep"]}
        assert all(
            any(k <= r["id"] for k in kept) for r in out
        )
        assert len(kept) < 30  # the repeated-pattern vectors collapsed

    def test_kmeans_plan_method_and_trained_semantic(self, spark, tmp_path):
        """similarity method 'kmeans' trains centroids into the
        registry; dedup method 'semantic' consumes them via the index
        input — the trained SemDeDup lifecycle inside one plan."""
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "emb.parquet")
        self._df(spark).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "similarity",
                    "corpus": {"ref": src, "onDisk": True},
                    "params": {"method": "kmeans", "idColumn": "vec_id",
                               "vecColumn": "embedding",
                               "nCentroids": 3, "nRounds": 2},
                    "outputKey": "centroids",
                },
                {
                    "command": "dedup",
                    "input": {"ref": src, "onDisk": True},
                    "index": {"ref": "centroids", "onDisk": False},
                    "params": {"method": "semantic", "idColumn": "vec_id",
                               "vecColumn": "embedding",
                               "threshold": 0.999},
                    "outputKey": "deduped",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        cents = engine.registry["centroids"].collect()
        assert len(cents) == 3 and {"centroid_id", "centroid", "n_members"} <= set(
            engine.registry["centroids"].columns
        )
        dd = engine.registry["deduped"].collect()
        assert len(dd) == 30
        assert {r["centroid_id"] for r in dd} <= {0, 1, 2}

    def test_silhouette_plan_with_trained_centroids(self, spark, tmp_path):
        """similarity method 'silhouette' grades a TRAINED clustering
        when given a 'centroids' input — the full plan-side SemDeDup
        audit trio: kmeans -> silhouette."""
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "emb_sil.parquet")
        self._df(spark).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "similarity",
                    "corpus": {"ref": src, "onDisk": True},
                    "params": {"method": "kmeans", "idColumn": "vec_id",
                               "vecColumn": "embedding",
                               "nCentroids": 3, "nRounds": 2},
                    "outputKey": "cents",
                },
                {
                    "command": "similarity",
                    "corpus": {"ref": src, "onDisk": True},
                    "centroids": {"ref": "cents", "onDisk": False},
                    "params": {"method": "silhouette",
                               "idColumn": "vec_id",
                               "vecColumn": "embedding"},
                    "outputKey": "sil",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        rows = engine.registry["sil"].collect()
        assert {r["centroid_id"] for r in rows} <= {0, 1, 2}
        assert all(r["n_members"] >= 1 for r in rows)

    def test_centroids_input_rejected_for_other_methods(self):
        from topnotch_spark.plans.extensions import SimilarityCmd

        with pytest.raises(ValueError, match="only valid for.*silhouette"):
            SimilarityCmd.from_json(
                {
                    "command": "similarity",
                    "corpus": {"ref": "a", "onDisk": False},
                    "centroids": {"ref": "b", "onDisk": False},
                    "params": {"method": "kcenter"},
                    "outputKey": "x",
                }
            )

    def test_semantic_plan_rejects_bad_centroid_frame(self, spark, tmp_path):
        import json

        from topnotch_spark.engine import TnEngine

        src = str(tmp_path / "emb2.parquet")
        self._df(spark).write.parquet(src)
        plan = {
            "commands": [
                {
                    "command": "dedup",
                    "input": {"ref": src, "onDisk": True},
                    "index": {"ref": src, "onDisk": True},
                    "params": {"method": "semantic", "idColumn": "vec_id",
                               "vecColumn": "embedding"},
                    "outputKey": "x",
                },
            ]
        }
        p = tmp_path / "plan.json"
        p.write_text(json.dumps(plan))
        engine = TnEngine(spark)
        with pytest.raises(
            ValueError, match="centroid_id/centroid columns"
        ):
            engine.run(str(p))

