"""Market-basket co-occurrence analysis (beyond-reference extension,
SURVEY.md §7E): which items appear together in the same basket more
often than chance — the association-rules / cross-sell primitive, and
in corpus work the "which tags/domains co-occur in a document" screen.

``market_basket_pairs`` computes, for every unordered item pair with at
least ``min_support`` co-occurrences: the pair count, each item's
basket count, and the LIFT — ``P(a,b) / (P(a)P(b))`` spelled as
``pair_count * n_baskets / (count_a * count_b)`` over exact integers so
both engines divide the same numbers.

Execution shape: one distinct (basket, item) projection, a self
equi-join ON THE BASKET KEY (fan-out bounded by items-per-basket², the
natural basket size — never |corpus|²), one pair groupBy, and two
broadcast joins against the item-margin table (|items| rows — a
dimension). The basket-count scalar rides in via a broadcast 1-row
cross join, not a driver constant baked into the plan. At 100 TB a
pathological mega-basket (one basket holding 10⁵ items) is the skew
risk — ``max_basket_items`` drops baskets above the cap from the
pairing (margins still count them), the same valve the shingle joins
use for viral n-grams.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from topnotch_spark.runtime import persist


def market_basket_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_support: int = 2,
    max_basket_items: int | None = None,
    round_digits: int = 6,
) -> DataFrame:
    """(item_a, item_b, pair_count, count_a, count_b, lift) for every
    unordered item pair co-occurring in >= ``min_support`` baskets.
    Presence is set semantics: duplicate (basket, item) rows count once.
    """
    items = df.select(
        F.col(basket_col).alias("__b__"), F.col(item_col).alias("__i__")
    ).where(F.col(item_col).isNotNull()).distinct()
    # four consumers (margins, totals, both join sides) — materialize once;
    # registered in the dedup-scope registry so plan runs / bench release it
    items = persist(items)
    margins = items.groupBy(F.col("__i__")).agg(
        F.count(F.lit(1)).alias("__cnt__")
    )
    totals = items.select(
        F.count_distinct(F.col("__b__")).alias("__n_baskets__")
    )
    paired = items
    if max_basket_items is not None:
        big = (
            items.groupBy("__b__")
            .agg(F.count(F.lit(1)).alias("__sz__"))
            .filter(F.col("__sz__") > max_basket_items)
            .select("__b__")
        )
        paired = items.join(F.broadcast(big), "__b__", "left_anti")
    a = paired.select(F.col("__b__"), F.col("__i__").alias("item_a"))
    b = paired.select(F.col("__b__"), F.col("__i__").alias("item_b"))
    pairs = (
        a.join(b, "__b__")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .filter(F.col("pair_count") >= min_support)
    )
    ma = F.broadcast(
        margins.select(
            F.col("__i__").alias("item_a"), F.col("__cnt__").alias("count_a")
        )
    )
    mb = F.broadcast(
        margins.select(
            F.col("__i__").alias("item_b"), F.col("__cnt__").alias("count_b")
        )
    )
    out = (
        pairs.join(ma, "item_a")
        .join(mb, "item_b")
        .crossJoin(F.broadcast(totals))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            "count_a",
            "count_b",
            F.round(
                (F.col("pair_count") * F.col("__n_baskets__")).cast("double")
                / (F.col("count_a") * F.col("count_b")).cast("double"),
                round_digits,
            ).alias("lift"),
        )
    )
    return out
