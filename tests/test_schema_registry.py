"""The parquet schema registry (``sources.inputs``) and the reads that
go through it: a read of an unchanged path passes the registered schema
instead of scheduling a schema-inference job, and anything that could
change the inferred schema (a rewritten file, an inference conf, a path
``os.stat`` cannot see) infers again. Index writers record the schema
they commit, and staged or checkpointed parquet is read back with the
schema just written.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import count_jobs
from topnotch_spark.operators.dedup import (
    _read_partitioned_index,
    compact_index,
    delete_from_index,
    upsert_dedup_index,
)
from topnotch_spark.sources import inputs
from topnotch_spark.sources.inputs import (
    Input,
    load_input,
    nullable,
    read_parquet,
    write_read_back,
)

INFER_PARTS = "spark.sql.sources.partitionColumnTypeInference.enabled"


def _entry(path):
    return inputs._SCHEMAS.get(os.path.abspath(path))


def _fresh_index_schema(spark, idx):
    """What inference returns for the index, bypassing the registry."""
    inputs._SCHEMAS.pop(os.path.abspath(idx), None)
    return _read_partitioned_index(spark, idx).schema


class TestRegistry:
    def test_second_load_of_unchanged_parquet_schedules_no_job(
        self, spark, tmp_path
    ):
        path = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]}), path)
        inp = Input(ref=path)
        first, first_jobs = count_jobs(spark, lambda: load_input(spark, inp))
        second, second_jobs = count_jobs(spark, lambda: load_input(spark, inp))
        assert first_jobs >= 1  # the inference job the registry saves
        assert second_jobs == 0
        assert second.schema == first.schema
        assert sorted(second.collect()) == sorted(first.collect())

    def test_rewritten_file_infers_again(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), path)
        assert read_parquet(spark, path).dtypes == [("a", "bigint")]
        pq.write_table(pa.table({"a": ["p", "q"], "c": [1.5, 2.5]}), path)
        df, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
        assert jobs >= 1
        assert df.dtypes == [("a", "string"), ("c", "double")]
        assert sorted(r["a"] for r in df.collect()) == ["p", "q"]

    def test_added_file_in_directory_infers_again(self, spark, tmp_path):
        d = tmp_path / "dir"
        d.mkdir()
        pq.write_table(pa.table({"a": [1]}), str(d / "part-0.parquet"))
        assert read_parquet(spark, str(d)).count() == 1
        pq.write_table(pa.table({"a": [2]}), str(d / "part-1.parquet"))
        df, jobs = count_jobs(spark, lambda: read_parquet(spark, str(d)))
        assert jobs >= 1
        assert df.count() == 2

    def test_inference_conf_change_infers_again(self, spark, tmp_path):
        path = str(tmp_path / "parts")
        spark.createDataFrame([("00", 1), ("01", 2)], "bucket string, v long") \
            .write.partitionBy("bucket").parquet(path)
        prev = spark.conf.get(INFER_PARTS)
        try:
            spark.conf.set(INFER_PARTS, "true")
            assert dict(read_parquet(spark, path).dtypes)["bucket"] == "int"
            spark.conf.set(INFER_PARTS, "false")
            df, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
            assert jobs >= 1
            assert dict(df.dtypes)["bucket"] == "string"
            assert sorted(r["bucket"] for r in df.collect()) == ["00", "01"]
            # both settings stay registered under the path's one entry
            spark.conf.set(INFER_PARTS, "true")
            df, jobs = count_jobs(spark, lambda: read_parquet(spark, path))
            assert jobs == 0
            assert dict(df.dtypes)["bucket"] == "int"
            assert len(_entry(path)[1]) == 2
        finally:
            spark.conf.set(INFER_PARTS, prev)

    def test_unstatable_path_falls_back_to_inference(self, spark, tmp_path):
        path = str(tmp_path / "t.parquet")
        pq.write_table(pa.table({"a": [1, 2]}), path)
        uri = "file://" + path  # another scheme: os.stat cannot see it
        assert read_parquet(spark, uri).count() == 2
        df, jobs = count_jobs(spark, lambda: read_parquet(spark, uri))
        assert jobs >= 1
        assert df.dtypes == [("a", "bigint")]
        assert not any(k.endswith(uri) for k in inputs._SCHEMAS)

    def test_relative_path_resolves_against_jvm_working_dir(
        self, spark, tmp_path
    ):
        jvm_cwd = spark._jvm.java.lang.System.getProperty("user.dir")
        top = f"rel_{uuid.uuid4().hex}"
        rel = os.path.join(top, "t.parquet")
        os.makedirs(os.path.join(jvm_cwd, top))
        pq.write_table(pa.table({"a": [1]}), os.path.join(jvm_cwd, rel))
        prev = os.getcwd()
        os.chdir(tmp_path)  # this process's cwd is not the JVM's
        try:
            assert read_parquet(spark, rel).count() == 1
            assert _entry(os.path.join(jvm_cwd, rel)) is not None
        finally:
            os.chdir(prev)
            shutil.rmtree(os.path.join(jvm_cwd, top), ignore_errors=True)


class TestIndexSchemas:
    @staticmethod
    def _entries(spark, keys):
        return spark.createDataFrame(
            [(k, i) for i, k in enumerate(keys)], "dup_key string, index_id long"
        )

    def test_all_digit_hex_buckets_read_back_as_strings(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        upsert_dedup_index(
            spark, idx, self._entries(spark, ["00aa", "00bb", "01cc"])
        ).collect()
        for recorded in (True, False):
            if not recorded:
                inputs._SCHEMAS.pop(os.path.abspath(idx), None)
            df = _read_partitioned_index(spark, idx)
            assert dict(df.dtypes)["bucket"] == "string"
            assert sorted(r["bucket"] for r in df.collect()) == [
                "00", "00", "01"
            ]

    def test_recorded_schema_matches_inference(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        keys = [f"{i:02x}{i}" for i in range(0, 64, 3)]
        upsert_dedup_index(spark, idx, self._entries(spark, keys[:10])).collect()
        # created: recorded, and equal to what inference returns
        assert _entry(idx) is not None
        recorded, jobs = count_jobs(
            spark, lambda: _read_partitioned_index(spark, idx).schema
        )
        assert jobs == 0
        assert recorded == _fresh_index_schema(spark, idx)
        upsert_dedup_index(spark, idx, self._entries(spark, keys[5:])).collect()
        recorded, jobs = count_jobs(
            spark, lambda: _read_partitioned_index(spark, idx).schema
        )
        assert jobs == 0
        assert recorded == _fresh_index_schema(spark, idx)
        # a delete rewrites with the id column first, so the schema of
        # the directory depends on its path-first file: not recorded
        delete_from_index(
            spark, idx, spark.createDataFrame([(0,)], "index_id long")
        ).collect()
        assert _read_partitioned_index(spark, idx).schema == (
            _fresh_index_schema(spark, idx)
        )

    def test_compaction_records_schema(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        upsert_dedup_index(
            spark, idx, self._entries(spark, ["0a", "1b"]), bucket_chars=1
        ).collect()
        # a second data file in bucket=0 makes it a compaction candidate
        spark.createDataFrame([("0c", 9)], "dup_key string, index_id long") \
            .write.mode("append").parquet(f"{idx}/bucket=0")
        row = compact_index(spark, idx).collect()[0]
        assert row["n_partitions_compacted"] == 1
        schema, jobs = count_jobs(
            spark, lambda: _read_partitioned_index(spark, idx).schema
        )
        assert jobs == 0
        assert schema == _fresh_index_schema(spark, idx)
        assert _read_partitioned_index(spark, idx).count() == 3

    def test_repeated_upserts_leave_one_entry_per_path(self, spark, tmp_path):
        idx = str(tmp_path / "idx")
        for r in range(4):
            upsert_dedup_index(
                spark, idx,
                self._entries(spark, [f"{r}{k}" for k in "abc"]),
                bucket_chars=1,
            ).collect()
            _read_partitioned_index(spark, idx).count()
        mine = [k for k in inputs._SCHEMAS if k.startswith(str(tmp_path))]
        assert mine == [os.path.abspath(idx)]
        assert len(_entry(idx)[1]) == 1  # one conf setting read


class TestWriteReadBack:
    def test_read_back_schema_equals_inference(self, spark, tmp_path):
        df = spark.range(3).select(
            F.col("id"),
            F.array(F.col("id")).alias("arr"),
            F.create_map(F.lit("k"), F.col("id")).alias("m"),
            F.struct(F.col("id").alias("x"), F.lit("s").alias("y")).alias("st"),
            F.current_timestamp().alias("ts"),
            F.lit(1.5).cast("decimal(10,2)").alias("dec"),
        )
        path = str(tmp_path / "rb")
        out = write_read_back(df, path)
        inferred = spark.read.parquet(path).schema
        assert out.schema == inferred
        assert nullable(df.schema) == inferred
        assert sorted(r["id"] for r in out.collect()) == [0, 1, 2]

    def test_empty_frame_reads_back(self, spark, tmp_path):
        df = spark.range(3).filter("id < 0")
        out = write_read_back(df, str(tmp_path / "empty"))
        assert out.count() == 0
        assert out.dtypes == [("id", "bigint")]


def test_catalog_load_serves_registered_schema(spark, tmp_path):
    from topnotch_spark import catalog

    pq.write_table(
        pa.table({"o_orderkey": [1, 2], "o_totalprice": [1.5, 2.5]}),
        str(tmp_path / "orders.parquet"),
    )
    first = catalog.load(spark, str(tmp_path), "orders")
    again, jobs = count_jobs(
        spark, lambda: catalog.load(spark, str(tmp_path), "orders")
    )
    assert jobs == 0
    assert again.schema == first.schema
