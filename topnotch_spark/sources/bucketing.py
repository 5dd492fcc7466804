"""Bucketed-table helpers: the 100 TB path for repeated keyed operations.

A diff (outer join on keys) or any repeated join/groupBy on the same keys
pays one full shuffle per side per run. Writing both sides bucketed (and
sorted) on the join keys moves that cost to write time ONCE: Spark's
bucketed scan then feeds sort-merge join directly — zero Exchange, zero
Sort in the per-run plan (verified by tests/test_bucketing.py).

At cluster scale choose ``num_buckets`` ≈ input_size / 128 MB, and keep
it identical on both sides — mismatched bucket counts fall back to a
shuffle on one side (Spark can only avoid both shuffles when counts
match or one divides the other with bucketed-scan coalescing enabled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (and optionally sorted) managed table.
    Bucketing requires the table catalog — plain ``.parquet(path)`` writes
    cannot carry bucket metadata."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table_name)
