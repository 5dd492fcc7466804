"""Command-output persistence: registry + optional Parquet write + table mount.

Reference semantics (tnengine/TnEngine.scala:214-229): every command's
result is registered under its outputKey; ``cache`` pins it; ``outputPath``
overwrite-writes Parquet; ``tableName`` mounts the written Parquet as an
external table. We use MEMORY_AND_DISK persistence (safer than the
reference's MEMORY_ONLY default at scale), registered with
``runtime.cache`` so the plan run that cached an output frees it, and
the modern ``spark.catalog.createTable`` (Spark 2.x
``createExternalTable`` is gone).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from topnotch_spark import runtime

_SINK_FORMATS = ("parquet", "orc", "csv", "json")


def store_output(
    spark: SparkSession,
    df: DataFrame,
    output_key: str,
    registry: dict[str, DataFrame],
    cache: bool = False,
    output_path: str | None = None,
    table_name: str | None = None,
    partition_by: list[str] | None = None,
    output_format: str = "parquet",
    sort_by: list[str] | None = None,
    sort_partitions: int | None = None,
    zorder_by: list[str] | None = None,
    zorder_bits: int = 16,
    bucket_by: list[str] | None = None,
    num_buckets: int | None = None,
) -> DataFrame:
    """``sort_by`` writes a DATA-SKIPPING layout: rows are range-
    repartitioned on the sort columns and sorted within each partition,
    so every output file covers a disjoint range and parquet/ORC
    row-group min/max stats prune whole files for range predicates on
    those columns — the right layout for a 100 TB table that is usually
    filtered on one column (date, id range). Costs ONE range-exchange
    (sampled boundaries) at write time; reads get `PushedFilters` + file
    skipping for free afterwards. ``sort_partitions`` fixes the output
    file count (defaults to the session shuffle parallelism).

    ``zorder_by`` (exactly two numeric columns) is the TWO-dimension
    variant: each column is min/max-quantized into 2^``zorder_bits``
    cells and rows are range-sorted on the interleaved Morton key
    (functions/layout.z_value) — every file then covers a small
    rectangle, so min/max stats stay tight on BOTH columns at once (the
    Delta/Iceberg ``OPTIMIZE ZORDER BY`` layout). Costs one 2×2-scalar
    min/max aggregate plus the same single range-exchange.

    ``bucket_by`` (+ required ``num_buckets`` and ``table_name``)
    writes a BUCKETED table — the 100 TB layout for repeated keyed
    operations (SCALE.md §5: two snapshots bucketed on the diff keys
    delete BOTH exchanges from every subsequent diff/join, paying the
    shuffle once at write time; reference output-options surface:
    tnengine/TnEngine.scala:217-226). Bucket metadata lives in the
    table catalog, so the sink is ``saveAsTable`` — ``table_name`` is
    mandatory and ``output_path`` (optional) makes it an external
    table. ``sort_by`` then means BUCKET-LOCAL sort (defaults to the
    bucket columns — the sort-merge-join-ready layout); ``zorder_by``
    is mutually exclusive (bucketing IS the layout). Keep
    ``num_buckets`` identical across tables that will join — Spark
    avoids both shuffles only when counts match (or divide, with
    bucketed-scan coalescing)."""
    if output_format not in _SINK_FORMATS:
        raise ValueError(
            f"Unsupported output format: {output_format!r} "
            f"(supported: {', '.join(_SINK_FORMATS)})"
        )
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if zorder_by and len(zorder_by) != 2:
        raise ValueError(
            f"zorder_by takes exactly two columns, got {list(zorder_by)}"
        )
    if bucket_by:
        if zorder_by:
            raise ValueError(
                "bucket_by and zorder_by are mutually exclusive"
            )
        if not num_buckets or int(num_buckets) <= 0:
            raise ValueError(
                "bucket_by requires a positive numBuckets"
            )
        if not table_name:
            raise ValueError(
                "bucket_by requires tableName: bucket metadata lives in "
                "the table catalog (plain path writes cannot carry it)"
            )
    if cache:
        df = runtime.cache(df)
    registry[output_key] = df
    if bucket_by:
        spark.sql(f"DROP TABLE IF EXISTS {table_name}")
        writer = (
            df.write.mode("overwrite")
            .format(output_format)
            .bucketBy(int(num_buckets), *bucket_by)
            .sortBy(*(sort_by or bucket_by))
        )
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if output_format == "csv":
            writer = writer.option("header", "true")
        if output_path:
            writer = writer.option("path", output_path)
        writer.saveAsTable(table_name)
        return df
    if output_path:
        out_df = df
        if zorder_by:
            from topnotch_spark.functions.layout import z_value

            cx, cy = zorder_by
            # one tiny aggregate: 4 scalars gate the quantization
            b = df.agg(
                F.min(cx).alias("nx"), F.max(cx).alias("xx"),
                F.min(cy).alias("ny"), F.max(cy).alias("xy"),
            ).collect()[0]
            cells = (1 << zorder_bits) - 1
            if any(b[k] is None for k in ("nx", "xx", "ny", "xy")):
                # Empty input or an all-NULL z-order column: there is no
                # meaningful curve — write unsorted rather than crash.
                b = None

            def quant(col, lo, hi):
                span = float(hi) - float(lo)
                if span <= 0:
                    return F.lit(0).cast("long")
                scaled = (
                    (F.col(col).cast("double") - float(lo)) / span * cells
                )
                return F.least(
                    F.lit(cells).cast("long"),
                    F.greatest(
                        F.lit(0).cast("long"), F.floor(scaled).cast("long")
                    ),
                )

            if b is not None:
                zkey = z_value(
                    quant(cx, b["nx"], b["xx"]),
                    quant(cy, b["ny"], b["xy"]),
                    bits=zorder_bits,
                )
                out_df = df.withColumn("__zkey__", zkey)
                if sort_partitions is not None:
                    out_df = out_df.repartitionByRange(
                        sort_partitions, F.col("__zkey__")
                    )
                else:
                    out_df = out_df.repartitionByRange(F.col("__zkey__"))
                out_df = (
                    out_df.sortWithinPartitions("__zkey__").drop("__zkey__")
                )
        if sort_by:
            cols = [F.col(c) for c in sort_by]
            if sort_partitions is not None:
                out_df = df.repartitionByRange(sort_partitions, *cols)
            else:
                out_df = df.repartitionByRange(*cols)
            out_df = out_df.sortWithinPartitions(*cols)
        writer = out_df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if output_format == "csv":
            writer = writer.option("header", "true")
        writer.format(output_format).save(output_path)
        if table_name:
            spark.sql(f"DROP TABLE IF EXISTS {table_name}")
            # Mount options must mirror the writer options, else a csv
            # mount would re-read its own header row as data with an
            # all-string schema.
            mount_opts: dict[str, str] = {}
            if output_format == "csv":
                mount_opts = {"header": "true", "inferSchema": "true"}
            spark.catalog.createTable(
                table_name, path=output_path, source=output_format, **mount_opts
            )
    return df
