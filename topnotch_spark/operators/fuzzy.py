"""Fuzzy string matching via deletion-neighborhood blocking (the
SymSpell idea): two strings within Levenshtein distance 1 necessarily
share a member of each other's 1-deletion neighborhood, so exploding
each string into its ≤ len+1 deletion variants and equi-joining on the
variant yields a COMPLETE candidate set for d ≤ 1 without any n² scan —
the entity-resolution primitive (near-identical names/IDs/URLs) at
corpus scale.

Execution shape: one explode (len+1 keys per row, so the exploded
stream is ~avg_len × input — same order as a shingle pipeline), ONE
equi-join on the raw deletion key carrying ONLY ids (md5-ing the key
was measured slower — the hash hex is wider than the keys it encodes,
and the narrow id-pair distinct halves the shuffle), then the texts
join back onto the surviving pairs (AQE broadcasts the string table
when it fits, sort-merges beyond) for exact `levenshtein` verification
on candidates only (JVM built-in, identical unit-cost definition in
DuckDB, which is what makes the operator oracle-checkable). Hot keys
(a deletion shared by many strings, e.g. a common template) behave
like hot LSH buckets — AQE skew splitting covers them; `max_key_df`
drops keys above a document frequency cap from the join (the same
valve the shingle joins use).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist


def _deletion_keys(s: str) -> F.Column:
    """All 1-deletion variants of column `s`, plus the string itself."""
    deletes = F.expr(
        f"transform(sequence(1, length({s})), i -> "
        f"concat(substring({s}, 1, i - 1), "
        f"substring({s}, i + 1, length({s}))))"
    )
    return F.array_union(deletes, F.array(F.col(s)))


def fuzzy_match_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_distance: int = 1,
    max_key_df: int | None = None,
) -> DataFrame:
    """All pairs of rows whose normalized (lower/trim) text is within
    Levenshtein distance ``max_distance`` (currently 1 — the deletion
    neighborhood is complete for d ≤ 1; higher d needs recursive deletes,
    raise intentionally rather than silently under-recall).

    Returns (id_a, id_b, text_a, text_b, distance), id_a < id_b,
    distance ≤ max_distance, exact-duplicate strings included (d = 0).

    The normalized (id, string) projection is registered in the dedup
    persist registry — it feeds both deletion-key sides and both
    verify-join sides (4 source scans without it); consume inside
    ``dedup_scope()`` or call ``unpersist_intermediates()`` to release
    the storage.
    """
    if max_distance != 1:
        raise ValueError(
            "fuzzy_match_pairs: deletion-neighborhood blocking is complete "
            "for max_distance=1 only (recursive deletes for d>=2 are not "
            "implemented); got "
            f"{max_distance}"
        )
    from topnotch_spark.operators.dedup import spread_cpu

    # spread BEFORE the persist: a parallelism-starved scan (single
    # row group) would otherwise cache as one partition, serializing
    # the deletion-neighborhood explode and both verify-join sides on
    # one task (measured: 1.25-1.6s single-task stage at sf0.1;
    # spread_cpu is a no-op when the scan already has partitions)
    base = persist(
        spread_cpu(
            df.select(
                F.col(id_col).alias("__id__"),
                F.lower(F.trim(F.col(text_col))).alias("__s__"),
            ).filter(F.length("__s__") > 0),
            "__id__",
        )
    )
    keyed = base.select(
        "__id__", F.explode(_deletion_keys("__s__")).alias("__k__")
    )
    if max_key_df is not None:
        hot = (
            keyed.groupBy("__k__")
            .agg(F.count(F.lit(1)).alias("__df__"))
            .filter(F.col("__df__") > max_key_df)
            .select("__k__")
        )
        keyed = keyed.join(F.broadcast(hot), "__k__", "left_anti")
    a = keyed.select(F.col("__id__").alias("id_a"), "__k__")
    b = keyed.select(F.col("__id__").alias("id_b"), "__k__")
    cand = (
        a.join(b, "__k__")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    s1 = base.select(F.col("__id__").alias("id_a"), F.col("__s__").alias("text_a"))
    s2 = base.select(F.col("__id__").alias("id_b"), F.col("__s__").alias("text_b"))
    return (
        cand.join(s1, "id_a")
        .join(s2, "id_b")
        .select(
            "id_a",
            "id_b",
            "text_a",
            "text_b",
            F.levenshtein("text_a", "text_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
