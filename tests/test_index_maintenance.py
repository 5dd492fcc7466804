"""Index maintenance without recomputation: ``delete_from_index`` finds
the touched partitions, the rows deleted and the partitions that keep
rows in one grouped aggregate over one index scan, and the staged upsert
takes its partition count from the touched list it already collected.

The delete cases pin the observable contract (stats row, rows left on
disk, which partition directories are rewritten or removed). The job
counts pin the scheduling cost on a small fixture so that a change that
adds Spark jobs to either path fails here.
"""

from __future__ import annotations

import glob
import os
import time

import pyarrow.dataset as ds
from pyspark.sql import functions as F

from tests.conftest import count_jobs
from topnotch_spark.operators.dedup import (
    build_minhash_index,
    delete_from_index,
    upsert_dedup_index,
    upsert_minhash_index,
)

# Spark jobs of one call on the fixtures below, the stats row's collect
# included (local[4], AQE on, so every query stage is a job of its own).
# A rise means the path schedules work it did not before.
UPSERT_UPDATE_JOBS = 8
DELETE_JOBS = 10


def _build(spark, idx, n=40, bucket_chars=1):
    entries = spark.createDataFrame(
        [(i, f"body {i}") for i in range(n)], "index_id long, text string"
    ).select(F.md5("text").alias("dup_key"), "index_id")
    upsert_dedup_index(spark, idx, entries, bucket_chars=bucket_chars).collect()


def _on_disk(idx):
    """{bucket: sorted (dup_key, index_id)} as read outside Spark."""
    t = ds.dataset(idx, format="parquet", partitioning="hive").to_table()
    out: dict[str, list] = {}
    for key, iid, part in zip(
        t.column("dup_key").to_pylist(),
        t.column("index_id").to_pylist(),
        t.column("bucket").to_pylist(),
    ):
        out.setdefault(str(part), []).append((key, iid))
    return {k: sorted(v) for k, v in out.items()}


def _files(idx):
    return {f: os.path.getmtime(f) for f in glob.glob(f"{idx}/*=*/*.parquet")}


def _delete(spark, idx, ids):
    rid = spark.createDataFrame([(i,) for i in ids], "index_id long")
    row = delete_from_index(spark, idx, rid).collect()[0]
    return row["n_partitions_touched"], row["n_entries_deleted"]


class TestDeleteFromIndex:
    def test_partly_retired_partition(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx)
        before, files = _on_disk(idx), _files(idx)
        part = next(p for p, rows in sorted(before.items()) if len(rows) >= 2)
        victim = before[part][0][1]
        time.sleep(1.1)
        assert _delete(spark, idx, [victim]) == (1, 1)
        want = {p: [r for r in rows if r[1] != victim] for p, rows in before.items()}
        assert _on_disk(idx) == want
        after = _files(idx)
        changed = {
            os.path.dirname(f) for f, m in files.items() if after.get(f) != m
        }
        assert changed == {f"{idx}/bucket={part}"}
        assert len(glob.glob(f"{idx}/bucket={part}/*.parquet")) == 1
        assert not os.path.exists(idx + "__staging__")

    def test_fully_retired_partition_directory_removed(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx)
        before = _on_disk(idx)
        part, rows = sorted(before.items())[0]
        other, other_rows = sorted(before.items())[1]
        ids = [r[1] for r in rows] + [other_rows[0][1]]
        assert _delete(spark, idx, ids) == (2, len(rows) + 1)
        assert not os.path.exists(f"{idx}/bucket={part}")
        want = {p: r for p, r in before.items() if p != part}
        want[other] = other_rows[1:]
        if not want[other]:
            del want[other]
        assert _on_disk(idx) == want

    def test_every_partition_retired(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx, n=6)
        assert _delete(spark, idx, range(6))[1] == 6
        assert not glob.glob(f"{idx}/bucket=*")

    def test_absent_ids_are_a_noop(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx)
        before, files = _on_disk(idx), _files(idx)
        assert _delete(spark, idx, [1000, 1001]) == (0, 0)
        assert _on_disk(idx) == before
        assert _files(idx) == files

    def test_minhash_doc_with_several_band_rows(self, spark, tmp_path):
        idx = str(tmp_path / "mh")
        docs = spark.createDataFrame(
            [(i, f"the quick brown document number {i}") for i in range(8)],
            ["doc_id", "text"],
        )
        upsert_minhash_index(
            spark, idx, build_minhash_index(docs, "doc_id", "text"), pfx_chars=1
        ).collect()
        t = ds.dataset(idx, format="parquet", partitioning="hive").to_table()
        rows = list(zip(t.column("index_id").to_pylist(), t.column("pfx").to_pylist()))
        gone = [r for r in rows if r[0] in (3, 5)]
        assert len(gone) == 8  # four band rows per doc
        assert _delete(spark, idx, [3, 5]) == (len({p for _, p in gone}), 8)
        t = ds.dataset(idx, format="parquet", partitioning="hive").to_table()
        left = sorted(zip(t.column("index_id").to_pylist(), t.column("pfx").to_pylist()))
        assert left == sorted(r for r in rows if r[0] not in (3, 5))


class TestJobCounts:
    def test_upsert_update_path(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx)
        grow = spark.createDataFrame(
            [(f"{c}{c}new", 100 + i) for i, c in enumerate("0a5f")],
            "dup_key string, index_id long",
        )
        row, jobs = count_jobs(
            spark,
            lambda: upsert_dedup_index(spark, idx, grow, bucket_chars=1).collect()[0],
        )
        assert row["n_buckets_touched"] == 4
        assert jobs == UPSERT_UPDATE_JOBS

    def test_delete(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        _build(spark, idx)
        victim = sorted(_on_disk(idx).items())[0][1][0][1]
        stats, jobs = count_jobs(spark, lambda: _delete(spark, idx, [victim]))
        assert stats == (1, 1)
        assert jobs == DELETE_JOBS


def test_commits_leave_the_session_overwrite_mode_alone(spark, tmp_path):
    """Upsert and delete overwrite their partitions with a per-write
    dynamic overwrite option, not by flipping the session conf."""
    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    idx = str(tmp_path / "idx")
    _build(spark, idx, n=10)
    _build(spark, idx, n=20)  # update path
    _delete(spark, idx, [3])
    assert spark.conf.get(key) == before
