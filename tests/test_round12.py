"""Round-12 additions: ADVICE r11 hardening (upsert staging lineage
break + the partition-type-inference fix it surfaced, minhash-index
signature-width guard, REST timeouts), the REST plan-READER retry
(verdict #6), the WordPiece fertility audit (verdict #2), the
wordpiece_vocab distributed top-N (verdict #4), the completed
incremental-ingestion trio (upsert_minhash_index #1, the semantic
screen #3, upsert_semantic_index), the ingestion lifecycle plan +
'index' command (#7), and the spans-rewriter raw-text cut_ranges
(#8)."""

from __future__ import annotations

import json
import os
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# REST plan reader: bounded retry (verdict r11 #6) + timeout
# ---------------------------------------------------------------------------


class _FlakyGetHandler(BaseHTTPRequestHandler):
    plans: dict[str, bytes] = {}
    attempts: dict[str, int] = {}
    fail_first: int = 1
    fail_status: int = 503

    def do_GET(self):  # noqa: N802 — BaseHTTPRequestHandler API
        n = self.attempts.get(self.path, 0)
        self.attempts[self.path] = n + 1
        if n < self.fail_first:
            self.send_response(self.fail_status)
            self.end_headers()
            return
        body = self.plans.get(self.path)
        if body is None:
            self.send_response(404)
            self.end_headers()
            return
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):  # quiet
        pass


@pytest.fixture()
def flaky_get_server():
    servers = []

    def make(fail_first: int, fail_status: int = 503):
        _FlakyGetHandler.plans = {}
        _FlakyGetHandler.attempts = {}
        _FlakyGetHandler.fail_first = fail_first
        _FlakyGetHandler.fail_status = fail_status
        srv = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyGetHandler)
        servers.append(srv)
        t = threading.Thread(target=srv.serve_forever, daemon=True)
        t.start()
        return f"http://127.0.0.1:{srv.server_address[1]}", _FlakyGetHandler

    yield make
    for srv in servers:
        srv.shutdown()
        srv.server_close()


class TestRestReaderRetry:
    def test_reader_retries_transient_5xx(self, flaky_get_server):
        from topnotch_spark.plans.readers import RESTReader

        base, handler = flaky_get_server(fail_first=1, fail_status=503)
        handler.plans["/plans/p.json"] = json.dumps({"ok": 1}).encode()
        r = RESTReader(base, retries=2, backoff_base_s=0.05)
        assert r.read_configuration("plans/p.json") == {"ok": 1}
        assert handler.attempts["/plans/p.json"] == 2  # 1 failure + 1 ok

    def test_reader_does_not_retry_404(self, flaky_get_server):
        from topnotch_spark.plans.readers import RESTReader

        base, handler = flaky_get_server(fail_first=0)
        r = RESTReader(base, retries=3, backoff_base_s=0.05)
        with pytest.raises(ValueError, match="Cant find configurations"):
            r.read_configuration("plans/nope.json")
        assert handler.attempts["/plans/nope.json"] == 1  # no retry on 4xx

    def test_reader_exhausts_retries_then_raises(self, flaky_get_server):
        import urllib.error

        from topnotch_spark.plans.readers import RESTReader

        base, handler = flaky_get_server(fail_first=10, fail_status=503)
        r = RESTReader(base, retries=2, backoff_base_s=0.05)
        with pytest.raises(urllib.error.HTTPError):
            r.read_configuration("plans/p.json")
        assert handler.attempts["/plans/p.json"] == 3  # 1 + 2 retries

    def test_variables_substituted_through_retry_path(
        self, flaky_get_server
    ):
        from topnotch_spark.plans.readers import RESTReader

        base, handler = flaky_get_server(fail_first=1, fail_status=503)
        handler.plans["/v.json"] = b'{"key": "${name}"}'
        r = RESTReader(
            base, variables={"name": "val"}, retries=1,
            backoff_base_s=0.05,
        )
        assert r.read_configuration("v.json") == {"key": "val"}


class TestHttpHelperTimeout:
    def test_hung_endpoint_times_out_and_retries(self):
        """A socket that accepts and never answers must raise (not hang)
        per attempt — the ADVICE r11 RESTWriter finding — and the
        timeout must count as retryable (attempted again)."""
        import socket

        from topnotch_spark.net import http_request_with_retry

        srv = socket.socket()
        srv.bind(("127.0.0.1", 0))
        srv.listen(5)  # accepts connections, never responds
        port = srv.getsockname()[1]
        try:
            with pytest.raises(Exception):
                http_request_with_retry(
                    f"http://127.0.0.1:{port}/x",
                    retries=1,
                    backoff_base_s=0.01,
                    timeout_s=0.3,
                )
        finally:
            srv.close()

    def test_writer_timeout_config_plumbed(self):
        from topnotch_spark.reports.writers import RESTWriter, get_writer

        w = get_writer(
            {"io": {"writer": "rest", "dest": "http://x/",
                    "timeoutS": 7.5}}
        )
        assert isinstance(w, RESTWriter)
        assert w.timeout_s == 7.5


# ---------------------------------------------------------------------------
# upsert_dedup_index: staging lineage break (ADVICE r11)
# ---------------------------------------------------------------------------


class TestUpsertStaging:
    def test_staging_dir_removed_after_upsert(self, spark, tmp_path):
        from topnotch_spark.operators.dedup import upsert_dedup_index

        idx = str(tmp_path / "idx")
        first = spark.createDataFrame(
            [("00aa", 1), ("01bb", 2)], "dup_key string, index_id long"
        )
        upsert_dedup_index(spark, idx, first).collect()
        second = spark.createDataFrame(
            [("00cc", 3)], "dup_key string, index_id long"
        )
        upsert_dedup_index(spark, idx, second).collect()
        assert not os.path.exists(idx + "__staging__")
        got = {
            (r["dup_key"], r["index_id"])
            for r in spark.read.parquet(idx).collect()
        }
        assert got == {("00aa", 1), ("01bb", 2), ("00cc", 3)}

    def test_bucket_values_round_trip_as_strings(self, spark, tmp_path):
        """All-numeric hex buckets ("00", "12") must survive the staging
        round trip as 2-char strings — partition-value type inference
        on a partitioned staging dir would turn "00" into 0."""
        from topnotch_spark.operators.dedup import upsert_dedup_index

        idx = str(tmp_path / "idx")
        first = spark.createDataFrame(
            [("00xx", 1), ("12yy", 2)], "dup_key string, index_id long"
        )
        upsert_dedup_index(spark, idx, first).collect()
        # second upsert into the SAME numeric buckets exercises staging
        second = spark.createDataFrame(
            [("00zz", 3), ("12ww", 4)], "dup_key string, index_id long"
        )
        upsert_dedup_index(spark, idx, second).collect()
        buckets = sorted(
            d.split("=")[1]
            for d in os.listdir(idx)
            if d.startswith("bucket=")
        )
        assert buckets == ["00", "12"]
        assert spark.read.parquet(idx).count() == 4


# ---------------------------------------------------------------------------
# upsert_minhash_index (verdict r11 #1): partition-pruned near-dup
# index growth
# ---------------------------------------------------------------------------


def _mh_entries(spark, rows):
    """(index_id, band_idx, bucket, sigs) literal frame."""
    return spark.createDataFrame(
        rows,
        "index_id long, band_idx int, bucket string, "
        "sigs array<bigint>",
    )


class TestUpsertMinhashIndex:
    def test_create_then_grow_and_replay_idempotent(self, spark, tmp_path):
        from topnotch_spark.operators.dedup import (
            _read_partitioned_index,
            upsert_minhash_index,
        )

        idx = str(tmp_path / "mhidx")
        first = _mh_entries(
            spark,
            [(1, 0, "aa111", [1, 2]), (1, 1, "bb222", [1, 2])],
        )
        s0 = upsert_minhash_index(spark, idx, first).collect()[0]
        assert s0["n_partitions_touched"] == 2
        assert s0["n_entries_written"] == 2
        second = _mh_entries(spark, [(2, 0, "aa333", [3, 4])])
        s1 = upsert_minhash_index(spark, idx, second).collect()[0]
        assert s1["n_partitions_touched"] == 1  # only pfx "aa"
        assert s1["n_entries_written"] == 2  # merged rows IN that pfx
        # replaying the same batch is a no-op on contents
        upsert_minhash_index(spark, idx, second).collect()
        got = {
            (r["index_id"], r["band_idx"], r["bucket"], tuple(r["sigs"]))
            for r in _read_partitioned_index(spark, idx).collect()
        }
        assert got == {
            (1, 0, "aa111", (1, 2)),
            (1, 1, "bb222", (1, 2)),
            (2, 0, "aa333", (3, 4)),
        }
        assert not os.path.exists(idx + "__staging__")

    def test_untouched_partitions_not_rewritten(self, spark, tmp_path):
        """The pruning contract: an upsert touching pfx 'aa' must leave
        the pfx 'bb' directory byte-untouched (mtime check — the same
        guarantee upsert_dedup_index's exact-key layout has)."""
        import time

        from topnotch_spark.operators.dedup import upsert_minhash_index

        idx = str(tmp_path / "mhidx")
        base = _mh_entries(
            spark,
            [(1, 0, "aa111", [1]), (2, 0, "bb222", [2])],
        )
        upsert_minhash_index(spark, idx, base).collect()
        bb_dir = os.path.join(idx, "pfx=bb")
        before = {
            f: os.path.getmtime(os.path.join(bb_dir, f))
            for f in os.listdir(bb_dir)
        }
        time.sleep(1.1)  # mtime granularity
        one = _mh_entries(spark, [(3, 0, "aa333", [3])])
        stats = upsert_minhash_index(spark, idx, one).collect()[0]
        assert stats["n_partitions_touched"] == 1
        after = {
            f: os.path.getmtime(os.path.join(bb_dir, f))
            for f in os.listdir(bb_dir)
        }
        assert after == before

    def test_empty_batch_is_noop(self, spark, tmp_path):
        from topnotch_spark.operators.dedup import upsert_minhash_index

        idx = str(tmp_path / "mhidx")
        upsert_minhash_index(
            spark, idx, _mh_entries(spark, [(1, 0, "aa111", [1])])
        ).collect()
        stats = upsert_minhash_index(
            spark, idx, _mh_entries(spark, [])
        ).collect()[0]
        assert stats["n_partitions_touched"] == 0
        assert stats["n_entries_written"] == 0

    def test_screen_sees_upserted_rows(self, spark, tmp_path):
        """End-to-end loop: a doc accepted and upserted in round N must
        be FOUND as a near-dup match by round N+1's screen."""
        from topnotch_spark.operators.dedup import (
            _read_partitioned_index,
            build_minhash_index,
            dedup_batch_against_minhash_index,
            upsert_minhash_index,
        )

        idx = str(tmp_path / "mhidx")
        text = "alpha beta gamma delta epsilon zeta eta theta"
        r1 = spark.createDataFrame(
            [(10, text)], "doc_id long, text string"
        )
        upsert_minhash_index(
            spark, idx, build_minhash_index(r1, "doc_id", "text")
        ).collect()
        r2 = spark.createDataFrame(
            [(21, text), (22, "completely different words entirely here")],
            "doc_id long, text string",
        )
        index = _read_partitioned_index(spark, idx).select(
            "index_id", "band_idx", "bucket", "sigs"
        )
        out = {
            r["doc_id"]: r
            for r in dedup_batch_against_minhash_index(
                r2, index, "doc_id", "text", threshold=0.5
            ).collect()
        }
        assert out[21]["best_match_id"] == 10
        assert out[21]["keep"] is False
        assert out[22]["keep"] is True


# ---------------------------------------------------------------------------
# dedup_batch_against_minhash_index: signature-width guard (ADVICE r11)
# ---------------------------------------------------------------------------


class TestMinhashIndexWidthGuard:
    def test_mismatched_num_hashes_raises(self, spark):
        """The dangerous mismatch is one where the BUCKETS still
        collide (otherwise the join is empty and nothing is silently
        wrong): an index built with 32 hashes × 8 bands shares its
        first 4 band buckets with a 16×4 screen (same rows_per_band,
        same deterministic coeff prefix), so candidates DO form — and
        zip_with would null-pad the 32-long index sigs against the
        16-long batch sigs, deflating every estimate. The guard must
        raise instead."""
        from topnotch_spark.operators.dedup import (
            build_minhash_index,
            dedup_batch_against_minhash_index,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy cat")],
            "doc_id long, text string",
        )
        index = build_minhash_index(docs, "doc_id", "text",
                                    num_hashes=32, bands=8)
        out = dedup_batch_against_minhash_index(
            docs, index, "doc_id", "text", num_hashes=16, bands=4
        )
        with pytest.raises(Exception, match="sigs length"):
            out.collect()

    def test_matching_num_hashes_passes(self, spark):
        from topnotch_spark.operators.dedup import (
            build_minhash_index,
            dedup_batch_against_minhash_index,
        )

        docs = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog")],
            "doc_id long, text string",
        )
        index = build_minhash_index(docs, "doc_id", "text", num_hashes=16,
                                    bands=4)
        out = dedup_batch_against_minhash_index(
            docs, index, "doc_id", "text", num_hashes=16, bands=4
        ).collect()
        assert len(out) == 1 and out[0]["n_candidates"] >= 1


# ---------------------------------------------------------------------------
# Ingestion lifecycle plan (verdict r11 #7): build -> screen -> upsert
# chained through the registry, plus the index plan command
# ---------------------------------------------------------------------------


class TestIngestionLifecyclePlan:
    def test_example_plan_end_to_end(self, spark, ingestion_plan_run):
        engine, num_failed, work = ingestion_plan_run(SF)
        assert num_failed == 0
        reg = engine.registry
        # NOTE: registry frames are lazy — re-counting a screen frame
        # HERE would re-read the on-disk index, which the plan's later
        # upserts have since grown (so every batch key now looks
        # in_index). Assert against ground truth computed independently
        # and against the upsert stats frames (literal columns, stable).
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        expected_keys = (
            docs.filter("doc_id % 3 IN (0, 1)")
            .selectExpr("md5(coalesce(text, '')) AS k")
            .distinct()
            .count()
        )
        final = spark.read.parquet(str(work / "index/exact"))
        # after seed + round-1 upsert the index owned exactly the
        # distinct content keys of both ingested rounds; the r13
        # retirement phase then deleted the %10==0 owners (literal
        # count in its stats frame)
        n_retired = reg["retireStats"].collect()[0]["n_entries_deleted"]
        assert n_retired > 0
        assert final.count() == expected_keys - n_retired
        assert final.filter("index_id % 10 = 0").count() == 0
        # round-1 upsert added the batch's novel keys (literal stats)
        stats1 = reg["exactUpsertStats1"].collect()[0]
        assert stats1["n_entries_written"] > 0
        # minhash index exists, is pfx-partitioned, and carries complete
        # signature rows
        mh_final = spark.read.parquet(
            str(work / "index/minhash")
        )
        assert mh_final.count() > 0
        assert {"index_id", "band_idx", "bucket", "sigs"} <= set(
            mh_final.columns
        )
        assert os.path.isdir(
            str(work / "index/minhash")
        )
        mh_stats = reg["mhUpsertStats1"].collect()[0]
        assert mh_stats["n_partitions_touched"] <= 16

    def test_index_stats_operator(self, spark, tmp_path):
        from topnotch_spark.operators.dedup import (
            index_stats,
            upsert_dedup_index,
        )

        idx = str(tmp_path / "idx")
        entries = spark.createDataFrame(
            [("aa11", 1), ("aa22", 2), ("bb33", 3)],
            "dup_key string, index_id long",
        )
        upsert_dedup_index(spark, idx, entries).collect()
        rows = {r["partition"]: r for r in index_stats(spark, idx).collect()}
        assert set(rows) == {"aa", "bb"}
        assert rows["aa"]["n_rows"] == 2 and rows["bb"]["n_rows"] == 1
        assert all(r["n_files"] >= 1 and r["bytes"] > 0 for r in rows.values())
        # mean rows/partition = 1.5 -> skew 2/1.5 and 1/1.5
        assert abs(rows["aa"]["rows_skew"] - 2 / 1.5) < 1e-6
        assert abs(rows["bb"]["rows_skew"] - 1 / 1.5) < 1e-6

    def test_index_stats_requires_path(self, spark):
        from topnotch_spark.plans.extensions import IndexCmd

        with pytest.raises(ValueError, match="indexPath"):
            IndexCmd.from_json(
                {"command": "index",
                 "params": {"method": "stats"},
                 "outputKey": "x"}
            )

    def test_index_cmd_validation(self, spark):
        from topnotch_spark.plans.extensions import IndexCmd

        with pytest.raises(ValueError, match="unknown method"):
            IndexCmd.from_json(
                {"command": "index",
                 "input": {"ref": "a", "onDisk": False},
                 "params": {"method": "rebuildEverything"},
                 "outputKey": "x"}
            )
        with pytest.raises(ValueError, match="indexPath"):
            IndexCmd.from_json(
                {"command": "index",
                 "input": {"ref": "a", "onDisk": False},
                 "params": {"method": "upsertExact"},
                 "outputKey": "x"}
            )
        with pytest.raises(ValueError, match="centroids"):
            IndexCmd.from_json(
                {"command": "index",
                 "input": {"ref": "a", "onDisk": False},
                 "params": {"method": "buildSemantic",
                            "idColumn": "vec_id", "vecColumn": "v"},
                 "outputKey": "x"}
            )

    def test_semantic_plan_path(self, spark, tmp_path):
        """buildSemantic + dedup incrementalSemantic as plan commands:
        the trained-cluster screen chained through the registry."""
        from topnotch_spark.engine import TnEngine

        plan = {
            "commands": [
                {
                    "command": "view",
                    "inputs": [
                        {"ref": f"{SF}/embeddings.parquet", "onDisk": True}
                    ],
                    "params": {
                        "tableAliases": ["e"],
                        "query": "SELECT vec_id, embedding FROM e "
                                 "WHERE vec_id % 2 = 0",
                    },
                    "outputKey": "corpus",
                },
                {
                    "command": "similarity",
                    "corpus": {"ref": "corpus", "onDisk": False},
                    "params": {"method": "kmeans", "idColumn": "vec_id",
                               "vecColumn": "embedding",
                               "nCentroids": 4, "nRounds": 1},
                    "outputKey": "cents",
                },
                {
                    "command": "index",
                    "input": {"ref": "corpus", "onDisk": False},
                    "centroids": {"ref": "cents", "onDisk": False},
                    "params": {"method": "buildSemantic",
                               "idColumn": "vec_id",
                               "vecColumn": "embedding"},
                    "outputKey": "semIndex",
                },
                {
                    "command": "view",
                    "inputs": [
                        {"ref": f"{SF}/embeddings.parquet", "onDisk": True}
                    ],
                    "params": {
                        "tableAliases": ["e"],
                        "query": "SELECT vec_id, embedding FROM e "
                                 "WHERE vec_id % 2 = 1",
                    },
                    "outputKey": "batch",
                },
                {
                    "command": "dedup",
                    "input": {"ref": "batch", "onDisk": False},
                    "index": {"ref": "semIndex", "onDisk": False},
                    "centroids": {"ref": "cents", "onDisk": False},
                    "params": {"method": "incrementalSemantic",
                               "idColumn": "vec_id",
                               "vecColumn": "embedding",
                               "threshold": 0.35},
                    "outputKey": "screened",
                },
            ]
        }
        import json as _json

        p = tmp_path / "plan.json"
        p.write_text(_json.dumps(plan))
        engine = TnEngine(spark)
        assert engine.run(str(p)) == 0
        screened = engine.registry["screened"]
        n_batch = engine.registry["batch"].count()
        assert screened.count() == n_batch
        assert {"vec_id", "centroid_id", "n_candidates",
                "best_match_id", "best_cosine", "keep"} == set(
            screened.columns
        )


# ---------------------------------------------------------------------------
# Semantic index on-disk growth (upsert_semantic_index)
# ---------------------------------------------------------------------------


def _sem_entries(spark, rows):
    """(index_id, vec, nrm, centroid_id) literal frame."""
    return spark.createDataFrame(
        rows,
        "index_id long, vec array<double>, nrm double, centroid_id int",
    )


class TestUpsertSemanticIndex:
    def test_create_grow_replay_and_prune(self, spark, tmp_path):
        import time

        from topnotch_spark.operators.dedup import (
            read_semantic_index,
            upsert_semantic_index,
        )

        idx = str(tmp_path / "semidx")
        first = _sem_entries(
            spark,
            [(1, [1.0, 0.0], 1.0, 0), (2, [0.0, 1.0], 1.0, 1)],
        )
        s0 = upsert_semantic_index(spark, idx, first).collect()[0]
        assert s0["n_partitions_touched"] == 2
        assert s0["n_entries_written"] == 2
        c1_dir = os.path.join(idx, "cid=1")
        before = {
            f: os.path.getmtime(os.path.join(c1_dir, f))
            for f in os.listdir(c1_dir)
        }
        time.sleep(1.1)
        second = _sem_entries(spark, [(3, [0.9, 0.1], 0.905539, 0)])
        s1 = upsert_semantic_index(spark, idx, second).collect()[0]
        assert s1["n_partitions_touched"] == 1  # only cluster 0
        # replay is a no-op on contents
        upsert_semantic_index(spark, idx, second).collect()
        got = {
            (r["index_id"], r["centroid_id"])
            for r in read_semantic_index(spark, idx).collect()
        }
        assert got == {(1, 0), (2, 1), (3, 0)}
        # untouched cluster directory byte-identical
        after = {
            f: os.path.getmtime(os.path.join(c1_dir, f))
            for f in os.listdir(c1_dir)
        }
        assert after == before
        assert not os.path.exists(idx + "__staging__")

    def test_screen_sees_upserted_members(self, spark, tmp_path):
        """Full loop: a vector accepted and upserted in round N is found
        as a near-dup by round N+1's screen against the on-disk index."""
        from topnotch_spark.operators.dedup import (
            build_semantic_index,
            dedup_batch_against_semantic_index,
            read_semantic_index,
            upsert_semantic_index,
        )

        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0], 1), (1, [-1.0, 0.0], 1)],
            "centroid_id int, centroid array<double>, n_members long",
        )
        idx = str(tmp_path / "semidx")
        r1 = spark.createDataFrame(
            [(10, [0.99, 0.05])], "vec_id long, embedding array<double>"
        )
        upsert_semantic_index(
            spark, idx,
            build_semantic_index(
                r1, None, "vec_id", "embedding", centroids=centroids
            ),
        ).collect()
        r2 = spark.createDataFrame(
            [(21, [0.99, 0.06]),     # near-dup of 10, same cluster
             (22, [-0.9, 0.3])],     # other cluster, no members
            "vec_id long, embedding array<double>",
        )
        out = {
            r["vec_id"]: r
            for r in dedup_batch_against_semantic_index(
                r2, read_semantic_index(spark, idx), centroids,
                "vec_id", "embedding", threshold=0.9,
            ).collect()
        }
        assert out[21]["keep"] is False
        assert out[21]["best_match_id"] == 10
        assert out[22]["keep"] is True
        assert out[22]["n_candidates"] == 0


# ---------------------------------------------------------------------------
# Incremental semantic screen (verdict r11 #3)
# ---------------------------------------------------------------------------


class TestSemanticIndexScreen:
    def _frames(self, spark):
        import math

        def unit(theta):
            return [math.cos(theta), math.sin(theta)] + [0.0] * 2

        corpus = spark.createDataFrame(
            [(0, unit(0.0)), (2, unit(1.5)), (4, unit(3.0)),
             (6, unit(0.05))],
            "vec_id long, embedding array<double>",
        )
        batch = spark.createDataFrame(
            [(1, unit(0.01)),   # near-dup of vec 0 (cos ~ 1.0)
             (3, unit(2.2))],   # not near anything at 0.9
            "vec_id long, embedding array<double>",
        )
        return corpus, batch

    def test_screen_routes_and_keeps_correctly(self, spark):
        from topnotch_spark.operators.dedup import (
            build_semantic_index,
            dedup_batch_against_semantic_index,
        )
        from topnotch_spark.operators.similarity import (
            kmeans_centroids_exact,
        )

        corpus, batch = self._frames(spark)
        cents, assigns = kmeans_centroids_exact(
            corpus, "vec_id", "embedding", n_centroids=2, n_rounds=1
        )
        index = build_semantic_index(
            corpus, assigns, "vec_id", "embedding"
        )
        out = {
            r["vec_id"]: r
            for r in dedup_batch_against_semantic_index(
                batch, index, cents, "vec_id", "embedding",
                threshold=0.9,
            ).collect()
        }
        assert out[1]["keep"] is False
        assert out[1]["best_match_id"] == 0
        assert out[1]["best_cosine"] >= 0.99
        assert out[3]["keep"] is True
        # every batch row got routed and screened
        assert set(out) == {1, 3}
        assert all(r["n_candidates"] >= 1 for r in out.values())

    def test_mismatched_embedding_dim_raises(self, spark):
        """An index stored with a different embedding dimension must
        fail loudly, not null-pad the dot product (the minhash
        sigs-width lesson)."""
        from topnotch_spark.operators.dedup import (
            dedup_batch_against_semantic_index,
        )

        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0], 1)],
            "centroid_id int, centroid array<double>, n_members long",
        )
        index = spark.createDataFrame(
            [(10, [1.0, 0.0, 0.0, 0.0], 1.0, 0)],  # dim 4 index
            "index_id long, vec array<double>, nrm double, "
            "centroid_id int",
        )
        batch = spark.createDataFrame(
            [(7, [0.9, 0.1])], "vec_id long, embedding array<double>"
        )
        out = dedup_batch_against_semantic_index(
            batch, index, centroids, "vec_id", "embedding",
            threshold=0.35,
        )
        with pytest.raises(Exception, match="vec dim"):
            out.collect()

    def test_empty_cluster_keeps(self, spark):
        """A batch vector routed to a centroid with no members must
        survive with n_candidates=0 and NULL best columns."""
        from topnotch_spark.operators.dedup import (
            dedup_batch_against_semantic_index,
        )

        centroids = spark.createDataFrame(
            [(0, [1.0, 0.0], 0), (1, [-1.0, 0.0], 0)],
            "centroid_id int, centroid array<double>, n_members long",
        )
        index = spark.createDataFrame(
            [], "index_id long, vec array<double>, nrm double, "
                "centroid_id int",
        )
        batch = spark.createDataFrame(
            [(7, [0.9, 0.1])], "vec_id long, embedding array<double>"
        )
        out = dedup_batch_against_semantic_index(
            batch, index, centroids, "vec_id", "embedding",
            threshold=0.35,
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r["keep"] is True
        assert r["n_candidates"] == 0
        assert r["best_match_id"] is None and r["best_cosine"] is None


# ---------------------------------------------------------------------------
# Incremental perceptual-hash screen (media leg of the family)
# ---------------------------------------------------------------------------


class TestPhashIndexScreen:
    def test_screen_finds_near_dup_blobs(self, spark):
        from topnotch_spark.catalog import _synthetic_tnimg_docs
        from topnotch_spark.operators.multimodal import (
            build_phash_index,
            dedup_batch_against_phash_index,
        )

        docs = _synthetic_tnimg_docs(spark, "/root/testdata/sf0.001")
        index = build_phash_index(
            docs.filter("doc_id % 2 = 0"), "doc_id", "content"
        )
        out = dedup_batch_against_phash_index(
            docs.filter("doc_id % 2 = 1"), index, "doc_id", "content",
            max_hamming=3,
        ).collect()
        assert len(out) == docs.filter("doc_id % 2 = 1").count()
        # the synthetic bursts guarantee some cross-parity near-dups
        # (hamming 2-6 within a burst) and some novel blobs
        kept = [r for r in out if r["keep"]]
        dropped = [r for r in out if not r["keep"]]
        assert kept and dropped
        for r in dropped:
            assert r["best_hamming"] <= 3
            assert r["best_match_id"] % 2 == 0  # matched an index blob

    def test_mismatched_grid_raises(self, spark):
        from topnotch_spark.catalog import _synthetic_tnimg_docs
        from topnotch_spark.operators.multimodal import (
            build_phash_index,
            dedup_batch_against_phash_index,
        )

        docs = _synthetic_tnimg_docs(spark, "/root/testdata/sf0.001")
        # grid=4 index (16-bit hashes) vs the default grid=8 screen:
        # band 0's 16-bit bucket is the WHOLE 16-bit hash, so buckets
        # can collide across grids — the guard must raise, not compare
        # misaligned bit-strings
        index = build_phash_index(
            docs.filter("doc_id % 2 = 0").limit(20), "doc_id", "content",
            grid=4, band_bits=16,
        )
        out = dedup_batch_against_phash_index(
            docs.filter("doc_id % 2 = 1").limit(20), index,
            "doc_id", "content", grid=8, band_bits=16,
        )
        import contextlib

        with contextlib.suppress(Exception):
            rows = out.collect()
            # if no bucket happened to collide the guard never fires;
            # then every batch row must be a clean no-candidate keep
            assert all(r["n_candidates"] == 0 for r in rows)

    def test_band_bits_must_divide(self, spark):
        from topnotch_spark.operators.multimodal import build_phash_index

        df = spark.createDataFrame(
            [(1, bytearray(b"x"))], "doc_id long, content binary"
        )
        with pytest.raises(ValueError, match="must divide"):
            build_phash_index(df, "doc_id", "content", band_bits=7)

    def test_audio_screen_finds_near_dup_clips(self, spark):
        from topnotch_spark.catalog import _synthetic_tnaud_docs
        from topnotch_spark.operators.multimodal import (
            build_audio_index,
            dedup_batch_against_audio_index,
        )

        clips = _synthetic_tnaud_docs(spark, "/root/testdata/sf0.001")
        index = build_audio_index(
            clips.filter("doc_id % 2 = 0"), "doc_id", "content"
        )
        out = dedup_batch_against_audio_index(
            clips.filter("doc_id % 2 = 1"), index, "doc_id", "content",
            max_hamming=3,
        ).collect()
        assert len(out) == clips.filter("doc_id % 2 = 1").count()
        dropped = [r for r in out if not r["keep"]]
        # within a burst of 8 every odd clip sits within hamming 3 of an
        # even sibling at this corpus size, so the dropped set dominates
        # (the exact keep/drop values are pinned by the strict oracle);
        # here we check the verdict invariants hold on every row
        assert dropped
        for r in out:
            if r["keep"]:
                assert r["best_hamming"] is None or r["best_hamming"] > 3
            else:
                assert r["best_hamming"] <= 3
                assert r["best_match_id"] % 2 == 0

    def test_bitsig_width_guard_raises(self, spark):
        """Generic core: an index whose sh width differs from the probe
        bits raises when buckets collide."""
        from topnotch_spark.operators.dedup import (
            build_bitsig_index,
            dedup_batch_against_bitsig_index,
        )

        # 16-bit index, same band substring as the probe's first band
        idx = build_bitsig_index(
            spark.createDataFrame(
                [(1, "0101010101010101")], "id long, sh string"
            ),
            16, 8,
        )
        batch = spark.createDataFrame(
            [(2, "01010101" * 4)], "id long, sh string"  # 32-bit probe
        )
        out = dedup_batch_against_bitsig_index(batch, idx, 32, 8, 3)
        with pytest.raises(Exception, match="bitsig index width"):
            out.collect()


# ---------------------------------------------------------------------------
# WordPiece fertility audit (verdict r11 #2)
# ---------------------------------------------------------------------------


class TestWordpieceFertility:
    def test_fertility_by_group_tiny(self, spark):
        """Hand-checkable corpus: with every word in the trained vocab's
        char floor plus top substrings, fertility per group is exact."""
        from topnotch_spark.operators.textqc import (
            wordpiece_fertility_by_group,
        )

        df = spark.createDataFrame(
            [(1, "aa aa bb", "g1"), (2, "aa", "g2")],
            "doc_id long, text string, source string",
        )
        rows = {
            r["source"]: r
            for r in wordpiece_fertility_by_group(
                df, "doc_id", "text", "source",
                max_piece_len=2, vocab_size=2,
            ).collect()
        }
        # vocab: chars {a, b} + top-2 multi {"aa" (3 occ-weighted), "bb"}
        # → every word segments in ONE piece: fertility 1.0
        assert rows["g1"]["n_tokens"] == 3
        assert rows["g1"]["n_subwords"] == 3
        assert rows["g1"]["fertility"] == 1.0
        assert rows["g1"]["chars_per_subword"] == 2.0
        assert rows["g2"]["n_tokens"] == 1
        assert rows["g2"]["fertility"] == 1.0

    def test_group_sums_match_segment_totals(self, spark):
        """The audit's corpus-wide sums must equal the per-doc apply
        step's sums — same trained vocab, same walk, different rollup."""
        from topnotch_spark.operators.textqc import (
            wordpiece_fertility_by_group,
            wordpiece_segment,
            wordpiece_vocab,
        )

        docs = (
            spark.read.parquet(f"{SF}/documents.parquet")
            .select("doc_id", "text", "source")
            .limit(120)
        )
        fert = wordpiece_fertility_by_group(
            docs, "doc_id", "text", "source"
        )
        tot = fert.agg(
            F.sum("n_tokens").alias("t"), F.sum("n_subwords").alias("s")
        ).collect()[0]
        vocab = wordpiece_vocab(docs, "doc_id", "text")
        seg = wordpiece_segment(docs, vocab, "doc_id", "text")
        tot2 = seg.agg(
            F.sum("n_tokens").alias("t"), F.sum("n_subwords").alias("s")
        ).collect()[0]
        assert (tot["t"], tot["s"]) == (tot2["t"], tot2["s"])


# ---------------------------------------------------------------------------
# Spans-rewriter raw-text fidelity (verdict r11 #8): cut_ranges
# ---------------------------------------------------------------------------


def _apply_cut_ranges(text: str, ranges) -> str:
    """Delete the [s, e) character ranges from the ORIGINAL text —
    exactly what a Lee-2022-style raw-bytes rewriter does."""
    out = text
    for r in sorted(ranges, key=lambda r: r["s"], reverse=True):
        out = out[: r["s"]] + out[r["e"]:]
    return out


class TestSpansRewriteCutRanges:
    def test_ranges_reproduce_rewritten_tokens_handcrafted(self, spark):
        """Messy whitespace + mixed case: applying cut_ranges to the
        RAW text must yield the same token stream as text_rewritten."""
        from topnotch_spark.operators.dedup import (
            rewrite_duplicate_spans,
        )

        dup = "Alpha  Beta\tGamma"
        rows = [
            (1, f"  {dup} \n one two three"),
            (2, f"zero {dup}   four"),
            (3, "nothing duplicated here at all"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["id"]: r
            for r in rewrite_duplicate_spans(
                df, "doc_id", "text", span_tokens=3, min_occurrences=2,
                emit_cut_ranges=True,
            ).collect()
        }
        raw = dict(rows)
        for i, r in out.items():
            survived = _apply_cut_ranges(raw[i], r["cut_ranges"])
            assert survived.lower().split() == r["text_rewritten"].split()
        # keep-first: exactly one of the two occurrences was cut
        assert (out[1]["n_tokens_cut"] > 0) != (out[2]["n_tokens_cut"] > 0)
        assert out[3]["cut_ranges"] == []
        # ranges are sorted and non-overlapping
        for r in out.values():
            spans = [(x["s"], x["e"]) for x in r["cut_ranges"]]
            assert spans == sorted(spans)
            assert all(
                a[1] <= b[0] for a, b in zip(spans, spans[1:])
            )

    def test_ranges_property_on_corpus(self, spark):
        """Property over real documents: for every doc, deleting
        cut_ranges from the original text is token-identical to
        text_rewritten, and conservation holds."""
        from topnotch_spark.operators.dedup import (
            rewrite_duplicate_spans,
        )

        docs = spark.read.parquet(f"{SF}/documents.parquet").select(
            "doc_id", "text"
        )
        out = rewrite_duplicate_spans(
            docs, "doc_id", "text", span_tokens=5, min_occurrences=2,
            emit_cut_ranges=True,
        ).collect()
        raw = {r["doc_id"]: r["text"] for r in docs.collect()}
        n_cut_docs = 0
        for r in out:
            assert r["n_tokens_out"] == r["n_tokens_in"] - r["n_tokens_cut"]
            text = raw[r["id"]] or ""
            survived = _apply_cut_ranges(text, r["cut_ranges"])
            assert survived.lower().split() == r["text_rewritten"].split()
            if r["cut_ranges"]:
                n_cut_docs += 1
        assert n_cut_docs > 0  # the corpus has duplicated spans

    def test_default_output_schema_unchanged(self, spark):
        from topnotch_spark.operators.dedup import (
            rewrite_duplicate_spans,
        )

        df = spark.createDataFrame(
            [(1, "a b c")], "doc_id long, text string"
        )
        cols = rewrite_duplicate_spans(df, "doc_id", "text").columns
        assert cols == ["id", "n_tokens_in", "n_tokens_cut",
                        "n_tokens_out", "text_rewritten"]


class TestTokenCharOffsets:
    def test_offsets_align_with_tokens(self, spark):
        from topnotch_spark.functions.text import (
            token_char_offsets,
            tokens,
        )

        rows = [
            (1, "  leading and   trailing  "),
            (2, "tabs\tand\nnewlines mixed\t\n in"),
            (3, ""),
            (4, None),
            (5, "single"),
        ]
        df = spark.createDataFrame(rows, "i long, t string")
        got = {
            r["i"]: (r["offs"], r["toks"])
            for r in df.select(
                "i",
                token_char_offsets("t").alias("offs"),
                tokens("t").alias("toks"),
            ).collect()
        }
        raw = dict(rows)
        for i, (offs, toks) in got.items():
            text = raw[i]
            if text is None:
                assert offs is None
                continue
            assert len(offs) == len(toks)
            for off, tok in zip(offs, toks):
                assert text[off["s"]: off["e"]].lower() == tok


# ---------------------------------------------------------------------------
# wordpiece_vocab: distributed top-N (verdict r11 #4)
# ---------------------------------------------------------------------------


class TestWordpieceVocabTopN:
    def test_plan_has_no_single_partition_sort_before_limit(self, spark):
        """The multi-char candidate selection must compile to
        TakeOrderedAndProject (per-partition heaps), not a global
        row_number window's single-partition sort."""
        from topnotch_spark.operators.textqc import wordpiece_vocab

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
        vocab = wordpiece_vocab(docs, "doc_id", "text")
        plan = vocab._sc._jvm.PythonSQLUtils.explainString(
            vocab._jdf.queryExecution(), "extended"
        )
        assert "TakeOrderedAndProject" in plan

    def test_vocab_size_and_rank_contract(self, spark):
        from topnotch_spark.operators.textqc import wordpiece_vocab

        df = spark.createDataFrame(
            [(1, "abc abd abc")], "doc_id long, text string"
        )
        rows = wordpiece_vocab(
            df, "doc_id", "text", max_piece_len=3, vocab_size=3
        ).collect()
        multi = [r for r in rows if r["piece_len"] >= 2]
        assert len(multi) == 3
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(rows) + 1))
        # rank order = (n_occurrences desc, piece asc)
        by_rank = sorted(rows, key=lambda r: r["rank"])
        key = [(-r["n_occurrences"], r["piece"]) for r in by_rank]
        assert key == sorted(key)
