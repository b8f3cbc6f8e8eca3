"""Market-basket co-occurrence: item pairs + integer lift.

The co-purchase analysis every commerce warehouse runs ("parts bought
together"), and — renamed — the co-occurrence mining a training-data
pipeline runs on (tools used in one conversation, domains cited in one
document). The shape is the interesting part at scale: pairs come from
a SELF-JOIN of the basket's item list on the basket key, which is
quadratic in basket size — so basket size must be BOUNDED before the
join, not discovered after it. One degenerate basket (a crawler
session touching 10^5 items) would otherwise emit 10^10 pairs from a
single key.

Plan: distinct (basket, item) -> per-basket size filter (the cap is an
explicit, logged contract, not a silent truncation: baskets over the
cap are EXCLUDED whole, because a partial basket would produce biased
pair counts) -> self equi-join on the basket key with ``item_a <
item_b`` -> pair counts. Lift is carried as an integer contract,
``lift_x1e6 = ((pair_cnt * 1e6) div cnt_a * n_baskets) div cnt_b`` —
the division order is part of the contract (documented, mirrored in
the oracle); > 1e6 means the pair co-occurs more than independence
predicts.

Reference analog: `get_balanced_weights` co-occurrence balancing over
(font, text) pairs — /root/reference/keras_ocr/data_generation.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def copurchase_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_items_per_basket: int = 100,
    top_k: int = 20,
) -> DataFrame:
    """Top-``top_k`` co-occurring item pairs:
    ``item_a, item_b, pair_count, count_a, count_b, n_baskets,
    lift_x1e6`` ordered by (pair_count desc, item_a, item_b).
    ``count_a``/``count_b`` are basket counts AFTER the size cap, so
    lift is internally consistent."""
    if max_items_per_basket < 2:
        raise ValueError("max_items_per_basket must be >= 2")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    # ONE exchange builds the capped baskets: groupBy(basket) +
    # collect_set dedupes items AND yields the size for the cap in the
    # same aggregation — the r5 form paid a (basket, item) distinct
    # exchange, a sizes aggregation, a semi-join, and then a 2x(rows)
    # self-join shuffle keyed on the basket. Pair expansion is now
    # per-basket array algebra off the sorted set (same device as the
    # LSH bucket pair expansion), so no join ever carries the row
    # explosion; the lazy lineage cut stops the three consumers
    # (n_baskets, item counts, pairs) re-running the basket build.
    baskets = (
        df.select(F.col(basket_col).alias("_b"), F.col(item_col).alias("_i"))
        .groupBy("_b")
        .agg(F.sort_array(F.collect_set("_i")).alias("_items"))
        .filter(F.size("_items") <= max_items_per_basket)
        .localCheckpoint(eager=False)
    )
    n_baskets = baskets.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    item_counts = baskets.select(F.explode("_items").alias("_i")).groupBy("_i").agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    pair_structs = F.flatten(
        F.transform(
            "_items",
            lambda x, i: F.transform(
                F.slice("_items", i + F.lit(2), F.size("_items")),
                lambda y: F.struct(x.alias("item_a"), y.alias("item_b")),
            ),
        )
    )
    pairs = (
        baskets.select(F.explode(pair_structs).alias("p"))
        .groupBy(F.col("p.item_a").alias("item_a"), F.col("p.item_b").alias("item_b"))
        .agg(F.count(F.lit(1)).cast("long").alias("pair_count"))
    )
    out = (
        pairs.join(
            item_counts.select(F.col("_i").alias("item_a"), F.col("_cnt").alias("count_a")),
            "item_a",
        )
        .join(
            item_counts.select(F.col("_i").alias("item_b"), F.col("_cnt").alias("count_b")),
            "item_b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            "item_a",
            "item_b",
            "pair_count",
            F.col("count_a").cast("long").alias("count_a"),
            F.col("count_b").cast("long").alias("count_b"),
            "n_baskets",
            F.expr(
                "(pair_count * 1000000L div count_a * n_baskets) div count_b"
            ).alias("lift_x1e6"),
        )
    )
    return out.orderBy(F.desc("pair_count"), "item_a", "item_b").limit(top_k)
