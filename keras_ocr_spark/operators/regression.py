"""Grouped simple linear regression from mergeable integer moments.

The distributed-stats workhorse: ANY closed-form statistic built from
sums (mean, variance, covariance, OLS slope/intercept, Pearson r)
costs exactly ONE map-side-combinable aggregate at 100 TB — the five
moments ``n, Σx, Σy, Σxy, Σx²`` collapse per partition before the
exchange, the same skew-immune shape as a count. This module computes
per-group OLS moments on INTEGER domains (x as a small integer
feature, y in cents), so every moment and the slope's closed-form
numerator/denominator

    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)

are exact BIGINTs — no float exists, an SQL mirror (e.g. DuckDB)
matches bit-for-bit, and two moment rows MERGE by plain addition (the same
merge-theorem contract as the CMS/HDR sketches). The division is left
to the consumer (num/den), keeping the frame exact; int64 bounds hold
while n·Σxy < 2^63 — for TB-scale groups, pre-scale y (document the
unit) or widen to DECIMAL(38,0) at the consumer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def ols_moments(
    df: DataFrame, group_col: str, x_expr: str, y_cents_expr: str
) -> DataFrame:
    """Per-group OLS moments over integer ``x_expr`` and cent-scaled
    ``y_cents_expr`` (both SQL expressions evaluated per row; rows with
    a NULL in either are excluded — no regression evidence). Returns
    ``{group_col}, n, sum_x, sum_y, sum_xy, sum_x2, slope_num,
    slope_den`` — all BIGINT; ``slope_den = 0`` means x is constant in
    the group (slope undefined; consumers must check)."""
    x = F.expr(x_expr).cast("long")
    y = F.expr(y_cents_expr).cast("long")
    base = df.filter(x.isNotNull() & y.isNotNull())
    m = base.groupBy(F.col(group_col)).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x).cast("long").alias("sum_x"),
        F.sum(y).cast("long").alias("sum_y"),
        F.sum(x * y).cast("long").alias("sum_xy"),
        F.sum(x * x).cast("long").alias("sum_x2"),
    )
    return m.select(
        group_col,
        "n",
        "sum_x",
        "sum_y",
        "sum_xy",
        "sum_x2",
        (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
        .cast("long")
        .alias("slope_den"),
    )


def merge_moments(a: DataFrame, b: DataFrame, group_col: str) -> DataFrame:
    """Merge two moment frames (e.g. from two shards or two days) by
    plain addition — merge(a, b) == moments(a ∪ b), the merge theorem
    the tests pin. Slope num/den are recomputed from the merged sums
    (they are NOT additive themselves)."""
    cols = ["n", "sum_x", "sum_y", "sum_xy", "sum_x2"]
    u = a.select(group_col, *cols).unionByName(b.select(group_col, *cols))
    m = u.groupBy(group_col).agg(*[F.sum(c).cast("long").alias(c) for c in cols])
    return m.select(
        group_col,
        *cols,
        (F.col("n") * F.col("sum_xy") - F.col("sum_x") * F.col("sum_y"))
        .cast("long")
        .alias("slope_num"),
        (F.col("n") * F.col("sum_x2") - F.col("sum_x") * F.col("sum_x"))
        .cast("long")
        .alias("slope_den"),
    )
