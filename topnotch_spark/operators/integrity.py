"""Cross-table referential-integrity checks.

The reference's assertion command validates rows against predicates on
ONE table (tnassertion/TnAssertionRunner.scala:49-68); real QC also asks
the cross-table question "does every child row point at a parent that
exists". This module answers it as a 1-row-per-relation summary that can
feed a plan assertion (``orphan_frac <= t``) — the FK complement to the
single-table rule surface, same spirit as operators/diff.py's
two-dataset compare.

Semantics:
- a NULL foreign key is NOT an orphan (SQL FK convention: NULL opts out
  of the constraint) — it is counted separately as ``n_null_fk`` so a
  quietly-nulling FK column is still visible;
- an orphan is a child row whose (fully non-null) FK tuple matches no
  parent PK tuple.

Execution shape per relation: ONE pass over the child — a left join of
the child's FK projection against the parent's distinct-PK projection
(Catalyst broadcasts the parent side when it is small; at 100 TB the
join shuffles on the key — unavoidable, and AQE handles skew) feeding a
single 1-row aggregate that counts rows, null FKs, and orphans
together; nothing driver-side. Each side of each relation is scanned
exactly once (the r7 shape — a separate totals aggregate + anti join —
scanned the child twice).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist


def referential_integrity(
    child: DataFrame,
    parent: DataFrame,
    fk: list[str],
    pk: list[str],
    relation: str,
) -> DataFrame:
    """1-row summary (relation, n_child, n_null_fk, n_orphans,
    orphan_frac) for one child→parent relation."""
    if len(fk) != len(pk) or not fk:
        raise ValueError("fk and pk must be non-empty and same length")
    fk_nn = reduce(
        lambda a, b: a & b, [F.col(p).isNotNull() for p in pk]
    )
    keyed = child.select(*[F.col(c).alias(p) for c, p in zip(fk, pk)])
    hits = parent.select(*pk).dropDuplicates(pk).withColumn(
        "__hit__", F.lit(1)
    )
    # NULL FK tuples never equi-match, so they land with __hit__ NULL and
    # are classified by fk_nn — one join + one aggregate covers all three
    # counts in a single child scan.
    joined = keyed.join(hits, pk, "left")
    return joined.agg(
        F.count(F.lit(1)).alias("n_child"),
        F.coalesce(
            F.sum(F.when(~fk_nn, 1).otherwise(0)), F.lit(0)
        ).cast("long").alias("n_null_fk"),
        F.coalesce(
            F.sum(F.when(fk_nn & F.col("__hit__").isNull(), 1).otherwise(0)),
            F.lit(0),
        ).cast("long").alias("n_orphans"),
    ).select(
        F.lit(relation).alias("relation"),
        "n_child",
        "n_null_fk",
        "n_orphans",
        F.round(
            F.when(
                F.col("n_child") > 0, F.col("n_orphans") / F.col("n_child")
            ),
            6,
        ).alias("orphan_frac"),
    )


def referential_integrity_suite(
    relations: list[tuple[str, DataFrame, list[str], DataFrame, list[str]]],
) -> DataFrame:
    """Union of ``referential_integrity`` summaries: one row per
    (name, child, fk, parent, pk) relation, in input order by name."""
    out = None
    for name, child, fk, parent, pk in relations:
        one = referential_integrity(child, parent, fk, pk, name)
        out = one if out is None else out.unionByName(one)
    if out is None:
        raise ValueError("relations must be non-empty")
    return out


def k_anonymity(
    df: DataFrame,
    quasi_cols: list[str],
    k: int = 5,
    risky_only: bool = True,
) -> DataFrame:
    """K-anonymity audit over quasi-identifier columns — the privacy QC
    gate for training-data release: a combination of quasi-identifiers
    shared by fewer than ``k`` rows re-identifies those rows.

    Returns one row per quasi-identifier combination: the quasi columns,
    ``group_size``, and ``meets_k``; with ``risky_only`` (default) only
    the violating groups (< k) are returned — at corpus scale the
    compliant groups are the bulk of the output and carry no action.
    NULL is treated as a value (SQL GROUP BY semantics): an all-NULL
    quasi tuple of size 1 is still re-identifiable.

    Execution shape: ONE map-side-combined groupBy on the quasi columns
    + a filter — scan-bound; the result is at most one row per distinct
    quasi tuple and the risky subset is usually tiny.
    """
    if k < 1:
        raise ValueError(f"k_anonymity: k must be >= 1, got {k}")
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("group_size"))
    out = g.select(
        *quasi_cols,
        "group_size",
        (F.col("group_size") >= k).alias("meets_k"),
    )
    return out.filter(~F.col("meets_k")) if risky_only else out


def l_diversity(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    l: int = 3,
    risky_only: bool = True,
) -> DataFrame:
    """L-diversity audit — the companion gate to [k_anonymity]: a
    quasi-identifier group can satisfy k-anonymity yet still leak the
    sensitive attribute if every row in the group SHARES it (homogeneity
    attack). A group is l-diverse when its rows span at least ``l``
    distinct sensitive values.

    Returns one row per quasi-identifier combination: the quasi columns,
    ``group_size``, ``distinct_sensitive``, ``meets_l``; with
    ``risky_only`` (default) only the violating groups. NULL sensitive
    values count as one distinct value of their own (a group that is
    all-NULL still exposes "the attribute is unknown for these people"
    — distinct_sensitive counts it, matching COUNT(DISTINCT) over a
    NULL-coalesced sentinel, not SQL's null-dropping COUNT(DISTINCT)).

    Execution shape: ONE groupBy on the quasi columns with a
    count-distinct over the sensitive column — Spark plans this as a
    two-phase expand/aggregate with partial aggregation; output is at
    most one row per distinct quasi tuple. Scan-bound at any scale.
    """
    if l < 1:
        raise ValueError(f"l_diversity: l must be >= 1, got {l}")
    sens = F.coalesce(
        F.col(sensitive_col).cast("string"), F.lit("__NULL__")
    )
    g = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("group_size"),
        F.countDistinct(sens).alias("distinct_sensitive"),
    )
    out = g.select(
        *quasi_cols,
        "group_size",
        "distinct_sensitive",
        (F.col("distinct_sensitive") >= l).alias("meets_l"),
    )
    return out.filter(~F.col("meets_l")) if risky_only else out


def fd_check(
    df: DataFrame,
    pairs: list[tuple[str, str]],
    round_digits: int = 6,
) -> DataFrame:
    """Functional-dependency audit: for each (determinant, dependent)
    pair, does A → B hold — i.e. does every A value map to exactly one
    B value? One row per pair: (determinant, dependent, n_keys,
    n_violating, violation_frac, holds). The schema-semantics companion
    to [referential_integrity]: FKs check that references EXIST, this
    checks that claimed single-valued relationships ARE single-valued —
    the denormalization-drift detector (a dimension attribute copied
    onto a fact table quietly forking per key, a "unique" business key
    that is not).

    NULL determinants form a key group of their own (GROUP BY
    semantics); NULL dependents count as a distinct value via the
    sentinel convention (the l_diversity rule) — an A mapping to both
    'x' and NULL is a violation, not a pass.

    Execution shape: the projected column frame is persisted once; each
    pair is ONE map-side-combined groupBy(determinant) with a
    count-distinct, reduced to a 1-row summary — |pairs| bounded
    aggregates over one scan."""
    if not pairs:
        raise ValueError("fd_check: pairs must be non-empty")
    cols = sorted({c for p in pairs for c in p})
    base = persist(df.select(*cols))
    out = None
    for det, dep in pairs:
        sent = F.coalesce(F.col(dep).cast("string"), F.lit("__NULL__"))
        per_key = base.groupBy(det).agg(
            F.countDistinct(sent).alias("__nd__")
        )
        summary = per_key.agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum(
                F.when(F.col("__nd__") > 1, 1).otherwise(0)
            ).alias("n_violating"),
        ).select(
            F.lit(det).alias("determinant"),
            F.lit(dep).alias("dependent"),
            "n_keys",
            "n_violating",
            F.when(
                F.col("n_keys") > 0,
                F.round(
                    F.col("n_violating").cast("double")
                    / F.col("n_keys").cast("double"),
                    round_digits,
                ),
            ).alias("violation_frac"),
            (F.coalesce(F.col("n_violating"), F.lit(0)) == 0).alias(
                "holds"
            ),
        )
        out = summary if out is None else out.unionByName(summary)
    return out


def t_closeness(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    t: float = 0.2,
    risky_only: bool = True,
    round_digits: int = 6,
) -> DataFrame:
    """T-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third rung of the privacy ladder after [k_anonymity] and
    [l_diversity]: a group can be l-diverse yet still leak if its
    sensitive-value DISTRIBUTION differs sharply from the table-wide one
    (skewness attack: "90% of this group has value X" is a disclosure
    even when all values appear). A group satisfies t-closeness when the
    distance between its sensitive distribution and the global one is at
    most ``t``.

    For a nominal sensitive attribute the canonical distance is the
    variational (total-variation) distance
    ``t(g) = ½ Σ_s |P_g(s) − P(s)|`` — the paper's equal-ground-distance
    EMD. NULL sensitive values count as a category of their own (same
    convention as [l_diversity]).

    Computed INTEGER-EXACT: per observed (group, value) cell
    ``|n_gs·N − n_s·n_g|``, plus ``(N − Σ_{s∈g} n_s)·n_g`` for the
    global values the group never exhibits (their cells contribute
    ``n_s·n_g`` each; summing via the complement avoids a group×value
    spine join). One double division at the end.

    Execution shape: ONE groupBy on (quasi, sensitive) — the only
    full-data shuffle — then everything runs on the distinct-cell frame:
    a broadcast join against the ≤|values| global tally, a 1-row total
    crossJoin (broadcast), a window partitioned by the quasi tuple, and
    a final cell-frame groupBy. Output is one row per quasi tuple.
    """
    if not 0.0 <= t <= 1.0:
        raise ValueError(f"t_closeness: t must be in [0, 1], got {t}")

    sens = F.coalesce(
        F.col(sensitive_col).cast("string"), F.lit("__NULL__")
    )
    # the cell frame feeds three branches (global value tally, grand
    # total, and the per-cell terms) — persist it so the source is
    # scanned ONCE; it is the distinct (quasi, value) frame, already the
    # big reduction
    cell = persist(
        df.groupBy(*quasi_cols, sens.alias("__sens__")).agg(
            F.count(F.lit(1)).alias("n_gs")
        )
    )
    stotal = cell.groupBy("__sens__").agg(F.sum("n_gs").alias("n_s"))
    ntotal = stotal.agg(F.sum("n_s").alias("n_total"))
    dec = "decimal(38,0)"
    wq = Window.partitionBy(*quasi_cols)
    enriched = (
        cell.join(F.broadcast(stotal), "__sens__")
        .crossJoin(F.broadcast(ntotal))
        .withColumn("n_g", F.sum("n_gs").over(wq))
        .withColumn(
            "term",
            F.abs(
                F.col("n_gs").cast(dec) * F.col("n_total").cast(dec)
                - F.col("n_s").cast(dec) * F.col("n_g").cast(dec)
            ),
        )
    )
    g = enriched.groupBy(*quasi_cols).agg(
        F.max("n_g").alias("group_size"),
        F.max("n_total").alias("n_total"),
        F.sum("term").alias("term_sum"),
        F.sum("n_s").alias("s_covered"),
    )
    numer = F.col("term_sum") + (
        F.col("n_total").cast(dec) - F.col("s_covered").cast(dec)
    ) * F.col("group_size").cast(dec)
    t_val = F.round(
        numer.cast("double")
        / (
            F.lit(2.0)
            * F.col("group_size").cast("double")
            * F.col("n_total").cast("double")
        ),
        round_digits,
    )
    out = g.select(
        *quasi_cols,
        F.col("group_size"),
        t_val.alias("t_distance"),
        (t_val <= F.lit(t)).alias("meets_t"),
    )
    return out.filter(~F.col("meets_t")) if risky_only else out
