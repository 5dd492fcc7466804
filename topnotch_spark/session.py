"""SparkSession factory with scale-appropriate defaults.

The reference builds a Hive-enabled batch session with FAIR scheduling and
speculation (reference: tnengine/TnEngine.scala:34-40). We keep those
defaults and add the Spark 3/4-era settings that matter at 100 TB:
AQE (runtime join-strategy switch, skew-join splitting, partition
coalescing), Arrow for any Python exchange, and UTC session time so results
are oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults chosen for the local[{cpus}] test harness; on a real cluster the
# same code runs unmodified — AQE re-sizes shuffles at runtime so the static
# shuffle.partitions value only seeds the initial plan.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # HiveQL convention of the reference: column names are case-insensitive
    # (reference: SparkApplicationTester.scala:23-24).
    "spark.sql.caseSensitive": "false",
    # Reference runs FAIR + speculation (TnEngine.scala:38-39); harmless
    # locally, straggler insurance on a real cluster.
    "spark.scheduler.mode": "FAIR",
    "spark.speculation": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Parquet TIMESTAMP(NANOS) (e.g. the driver's events table) has no Spark
    # timestamp type; read as epoch-nanos long and convert at the source
    # (sources.inputs.load_input / catalog.load truncate to micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.showConsoleProgress": "false",
    "spark.ui.enabled": "false",
    # Static conf (only honored at JVM startup): the generated-class cache
    # defaults to 100 entries, which a wide query catalog (100+ pipelines,
    # several codegen stages each) cycles straight through — every re-run
    # then re-invokes Janino at 1-3s per large stage (measured: the fuzzy
    # pipeline is 6.3s under eviction, 3.0s cached). Sized for the whole
    # catalog; memory cost is tens of MB of class metadata.
    "spark.sql.codegen.cache.maxEntries": "5000",
    # PySpark's DataFrame-debugging call-site capture wraps every
    # DataFrame API call in a Python stack walk plus about five py4j
    # round trips to pin the caller in the JVM — half of all py4j calls
    # of a plan run (about 8,800 -> 4,500 per pass of the plans
    # benchmark, measured on a 4-core host). It only
    # adds the Python call site to the error context of DataFrame-API
    # errors, which for plan runs points into topnotch_spark anyway; SQL
    # error context stays. Re-enable with get_spark(extra_conf=
    # {"spark.python.sql.dataFrameDebugging.enabled": "true"}).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(
    app_name: str = "topnotch_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real deployment,
    spark-submit's ``--master`` wins because we only set a master when none
    exists.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    elif "SPARK_MASTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions or cpus)
    # Streaming state-store backend. Default (unset) is Spark's
    # HDFSBackedStateStoreProvider: every key lives on the executor
    # JVM heap with a full snapshot per checkpoint — fine locally, but
    # at 100 TB a high-cardinality stateful query (per-user sessionize /
    # ewma / paths over billions of keys) blows executor memory.
    # SPARK_GRAFT_STATE_STORE=rocksdb selects the RocksDB provider:
    # state spills to local SSD with incremental changelog checkpoints,
    # bounding heap by the RocksDB block cache instead of |state|.
    # Measured locally at sf0.1 (SCALE.md §4): HDFS-backed wins at this
    # scale (tiny state, no JNI overhead), so it stays the default; the
    # knob is the documented 100x-scale escape hatch.
    ss = os.environ.get("SPARK_GRAFT_STATE_STORE", "").lower()
    if ss == "rocksdb":
        conf["spark.sql.streaming.stateStore.providerClass"] = (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
        conf["spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"] = "true"
    elif ss and ss != "hdfs":
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE must be 'hdfs' or 'rocksdb', got {ss!r}"
        )
    conf.setdefault("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
