"""Slowly-changing-dimension (type 2) batch merge — the dimension-
history primitive every warehouse pipeline needs and Spark has no
built-in for (beyond-reference extension, SURVEY.md §7E; the reference's
diff operator compares two snapshots — `tnengine/TnDiffCreator.scala` —
but cannot MAINTAIN a history table; this closes that loop).

``scd2_merge(current, updates, ...)`` applies one batch of attribute
updates to an SCD2 history table:

- rows of ``current`` with ``is_current = false`` (closed history) pass
  through untouched;
- an open row whose tracked attributes are unchanged by its update (or
  that has no update) passes through;
- an open row whose tracked attributes changed is CLOSED
  (``valid_to`` = the update's effective timestamp,
  ``is_current`` = false) and a new open row is inserted carrying the
  updated attributes (``valid_from`` = effective ts);
- an update for a key absent from ``current`` inserts a brand-new open
  row.

Execution shape: ONE shuffle — a single full-outer join of the open
rows against the update batch on the keys — and then a single
projection that emits 0, 1 or 2 output rows per joined row via an
array-of-structs explode (no re-scan of the join for each case), plus
the closed-history union which is scan-only. Change detection is
null-safe (``<=>``) per tracked column. At 100 TB the join keys
partition the work; if the dimension is bucketed on the keys the
exchange on the current side disappears entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist


def scd2_merge(
    current: DataFrame,
    updates: DataFrame,
    keys: list[str],
    tracked: list[str],
    effective_col: str,
    valid_from: str = "valid_from",
    valid_to: str = "valid_to",
    is_current: str = "is_current",
    validate: bool = True,
) -> DataFrame:
    """Merge one update batch into an SCD2 history table.

    ``current`` columns: keys + tracked + ``valid_from`` + ``valid_to``
    + ``is_current``. ``updates`` columns: keys + tracked +
    ``effective_col``. Output has exactly the ``current`` columns.

    ``updates`` must carry at most one row per key (an update batch is a
    snapshot of new attribute values); with ``validate`` a single
    bounded aggregate enforces this and that no update key is null,
    raising before any output is produced — mirroring the diff
    operator's precondition contract (reference
    tnengine/TnDiffCreator.scala precondition checks).
    """
    meta = [valid_from, valid_to, is_current]
    out_cols = [*keys, *tracked, *meta]
    if validate:
        row = updates.select(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct(*[F.col(k) for k in keys]).alias("nk"),
            F.sum(
                F.when(
                    F.greatest(*[F.col(k).isNull() for k in keys])
                    if len(keys) > 1
                    else F.col(keys[0]).isNull(),
                    1,
                ).otherwise(0)
            ).alias("null_keys"),
        ).collect()[0]
        if row["null_keys"]:
            raise ValueError(
                f"scd2_merge: {row['null_keys']} update rows have null keys"
            )
        if row["n"] != row["nk"]:
            raise ValueError(
                "scd2_merge: update batch has duplicate keys "
                f"({row['n']} rows, {row['nk']} distinct keys)"
            )
    vf_type = current.schema[valid_from].dataType
    closed = current.filter(~F.col(is_current)).select(*out_cols)
    open_ = current.filter(F.col(is_current)).select(
        *out_cols, F.lit(1).alias("__has_open__")
    )
    upd = updates.select(
        *[F.col(k).alias(f"__uk_{k}") for k in keys],
        *[F.col(t).alias(f"__ut_{t}") for t in tracked],
        F.col(effective_col).cast(vf_type).alias("__eff__"),
        F.lit(1).alias("__has_upd__"),
    )
    cond = None
    for k in keys:
        c = open_[k].eqNullSafe(upd[f"__uk_{k}"])
        cond = c if cond is None else (cond & c)
    j = open_.join(upd, cond, "full_outer")

    changed = None
    for t in tracked:
        c = ~F.col(t).eqNullSafe(F.col(f"__ut_{t}"))
        changed = c if changed is None else (changed | c)

    def struct_row(key_src, trk_src, vf, vt, cur):
        return F.struct(
            *[key_src(k).alias(k) for k in keys],
            *[trk_src(t).alias(t) for t in tracked],
            vf.alias(valid_from),
            vt.cast(vf_type).alias(valid_to),
            cur.alias(is_current),
        )

    kept_open = struct_row(
        F.col, F.col, F.col(valid_from), F.col(valid_to), F.lit(True)
    )
    closed_old = struct_row(
        F.col, F.col, F.col(valid_from), F.col("__eff__"), F.lit(False)
    )
    new_open = struct_row(
        lambda k: F.coalesce(F.col(k), F.col(f"__uk_{k}")),
        lambda t: F.col(f"__ut_{t}"),
        F.col("__eff__"),
        F.lit(None).cast(vf_type),
        F.lit(True),
    )
    has_open = F.col("__has_open__").isNotNull()
    has_upd = F.col("__has_upd__").isNotNull()
    rows = (
        F.when(has_open & ~has_upd, F.array(kept_open))
        .when(~has_open & has_upd, F.array(new_open))
        .when(changed, F.array(closed_old, new_open))
        .otherwise(F.array(kept_open))
    )
    merged = j.select(F.explode(rows).alias("__r__")).select("__r__.*")
    return merged.unionByName(closed)


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    keys: list[str],
    ts_col: str,
    op_col: str = "op",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Apply an ordered change-data-capture log (upserts + deletes) to a
    snapshot — the table-maintenance primitive a CDC feed (Debezium-style
    ``op`` ∈ {'u','d'}, with 'i'/'c' treated as upserts) needs:
    the LATEST change per key wins; a winning upsert replaces/inserts the
    row, a winning delete removes it, keys without changes pass through.

    Semantics: ties on ``ts_col`` break on ``tiebreak_col`` (higher
    wins — pass the log's sequence/LSN column; defaults to the ts alone,
    in which case same-ts changes for one key are ambiguous and the
    caller should supply the tiebreak). ``changes`` must carry the
    snapshot's full column set for upserts; extra CDC metadata columns
    beyond (op, ts, tiebreak) are dropped.

    Execution shape: ONE window (latest change per key), one
    anti/union pass: snapshot LEFT ANTI JOIN changed-keys (rows that
    survive untouched) UNION the winning upsert rows. Two shuffles on
    the keys total — at scale, bucket both sides on the keys and the
    snapshot side's exchange disappears. Never a full-table rewrite of
    unchanged partitions when the sink partitions by key range.

    The winning-change frame is registered in the dedup persist
    registry (it feeds both the anti join and the upsert union — the
    change log would be windowed twice without it); consume inside
    ``dedup_scope()`` or call ``unpersist_intermediates()`` to release
    the storage.
    """
    missing = [c for c in (*keys, ts_col, op_col) if c not in changes.columns]
    if missing:
        raise ValueError(f"cdc_apply: changes is missing columns {missing}")
    order = [F.col(ts_col).desc()]
    if tiebreak_col is not None:
        order.append(F.col(tiebreak_col).desc())
    from pyspark.sql import Window

    w = Window.partitionBy(*keys).orderBy(*order)

    latest = persist(
        changes.withColumn("__rn__", F.row_number().over(w))
        .filter(F.col("__rn__") == 1)
        .drop("__rn__")
    )
    changed_keys = latest.select(*keys)
    untouched = snapshot.join(changed_keys, keys, "left_anti")
    upserts = latest.filter(~F.lower(F.col(op_col)).isin("d", "delete")).select(
        *snapshot.columns
    )
    return untouched.unionByName(upserts)
