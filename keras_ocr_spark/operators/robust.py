"""Robust per-group outlier report: exact median/MAD from a histogram.

The anomaly gate real curation uses where mean/stddev would be wrecked
by the very outliers it hunts: flag rows whose deviation from the GROUP
MEDIAN exceeds ``k`` times the group's MEDIAN ABSOLUTE DEVIATION.

Exactness without buffering: Spark's ``percentile`` aggregate buffers
every value of a group in one aggregation state — an OOM at 100 TB
group sizes. Here the raw data is scanned ONCE into a ``(group, cents)``
histogram (a partial-agg count shuffle, skew-immune: the hot value
collapses map-side); every later step — median, deviations, MAD,
outlier counts — runs on that histogram, whose size is bounded by the
VALUE DOMAIN (distinct cents per group), not the row count. The same
boundedness argument as ``operators/sketches.py``'s HDR histogram, but
exact.

Integer end-to-end (the hdr/zorder convention): values land on cents =
``floor(v*100+0.5)``; the median of an even-count group is the midpoint
of the two central values, carried as ``med_cents_x2 = lower+upper``
(x2 scale — never divided); deviations are ``dev_x2 = |2*cents -
med_x2|`` (still integers); the MAD is the histogram-median of those,
carried at x4 scale; the outlier test ``dev > k*mad`` becomes the pure
integer comparison ``2*dev_x2 > k*mad_x4``. No float is produced at any
point, so an SQL mirror of the same CTE algebra (e.g. DuckDB)
matches bit-for-bit.

Median-from-histogram: with per-group running count ``cum`` over cents
ascending, the two central order statistics (1-based ranks ``(n+1) div
2`` and ``n div 2 + 1``) are each the FIRST value whose ``cum`` reaches
that rank — a conditional ``min`` per group.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _hist_median_x2(hist: DataFrame, group: str, val: str, cnt: str, out: str) -> DataFrame:
    """Per-``group`` exact median (x2 scale: lower+upper central order
    statistics) of a value histogram. Returns ``group, {out}, n``."""
    w_cum = W.partitionBy(group).orderBy(val).rowsBetween(W.unboundedPreceding, W.currentRow)
    w_all = W.partitionBy(group)
    h = hist.withColumn("_cum", F.sum(cnt).over(w_cum)).withColumn(
        "_n", F.sum(cnt).over(w_all)
    )
    lo_rank = F.expr("(_n + 1) div 2")
    up_rank = F.expr("_n div 2 + 1")
    return h.groupBy(group).agg(
        (
            F.min(F.when(F.col("_cum") >= lo_rank, F.col(val)))
            + F.min(F.when(F.col("_cum") >= up_rank, F.col(val)))
        ).alias(out),
        F.max("_n").alias("n"),
    )


def mad_outlier_report(
    df: DataFrame, group_col: str, value_col: str, k: int = 3
) -> DataFrame:
    """Per-group robust outlier report over ``value_col``:
    ``{group_col}, n_rows, med_cents_x2, mad_cents_x4, n_outliers``
    where a row is an outlier when its absolute deviation from the
    group median exceeds ``k`` group-MADs (strictly)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    # NULL values carry no deviation evidence and would also sort
    # differently across engines (Spark NULLS FIRST vs DuckDB NULLS
    # LAST in ASC windows) — excluded up front, documented.
    df = df.filter(F.expr(value_col).isNotNull())
    cents = F.expr(f"cast(floor({value_col} * 100 + 0.5) as long)")
    hist = df.groupBy(F.col(group_col), cents.alias("_cents")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    med = _hist_median_x2(hist, group_col, "_cents", "_cnt", out="med_cents_x2")
    dev = (
        hist.join(F.broadcast(med), group_col)
        .withColumn("_dev_x2", F.abs(2 * F.col("_cents") - F.col("med_cents_x2")))
    )
    dev_hist = dev.groupBy(group_col, "_dev_x2").agg(F.sum("_cnt").alias("_cnt"))
    mad = _hist_median_x2(dev_hist, group_col, "_dev_x2", "_cnt", out="mad_cents_x4").drop("n")
    return (
        dev.join(F.broadcast(mad), group_col)
        .groupBy(group_col)
        .agg(
            F.sum("_cnt").cast("long").alias("n_rows"),
            F.max("med_cents_x2").cast("long").alias("med_cents_x2"),
            F.max("mad_cents_x4").cast("long").alias("mad_cents_x4"),
            F.sum(
                F.when(2 * F.col("_dev_x2") > k * F.col("mad_cents_x4"), F.col("_cnt")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )


def percentile_bounds(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_permille: int = 10,
    hi_permille: int = 990,
) -> DataFrame:
    """Per-group winsorization bounds: the nearest-rank (no
    interpolation — the classic discrete order statistic, rank =
    ``(p*n + 999) div 1000``) percentile values at ``lo_permille`` and
    ``hi_permille``, plus how many rows fall outside them. Same
    domain-bounded histogram engine as :func:`mad_outlier_report`:
    ONE raw scan into the (group, cents) histogram, everything else on
    the histogram. Returns ``{group_col}, n_rows, lo_cents, hi_cents,
    n_below, n_above`` — all BIGINT, no float anywhere."""
    if not (0 < lo_permille < hi_permille <= 1000):
        raise ValueError("need 0 < lo_permille < hi_permille <= 1000")
    df = df.filter(F.expr(value_col).isNotNull())
    cents = F.expr(f"cast(floor({value_col} * 100 + 0.5) as long)")
    hist = df.groupBy(F.col(group_col), cents.alias("_cents")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    w_cum = W.partitionBy(group_col).orderBy("_cents").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    w_all = W.partitionBy(group_col)
    h = hist.withColumn("_cum", F.sum("_cnt").over(w_cum)).withColumn(
        "_n", F.sum("_cnt").over(w_all)
    )
    lo_rank = F.expr(f"({lo_permille} * _n + 999) div 1000")
    hi_rank = F.expr(f"({hi_permille} * _n + 999) div 1000")
    bounds = h.groupBy(group_col).agg(
        F.max("_n").cast("long").alias("n_rows"),
        F.min(F.when(F.col("_cum") >= lo_rank, F.col("_cents"))).cast("long").alias("lo_cents"),
        F.min(F.when(F.col("_cum") >= hi_rank, F.col("_cents"))).cast("long").alias("hi_cents"),
    )
    return (
        hist.join(F.broadcast(bounds), group_col)
        .groupBy(group_col)
        .agg(
            F.max("n_rows").alias("n_rows"),
            F.max("lo_cents").alias("lo_cents"),
            F.max("hi_cents").alias("hi_cents"),
            F.coalesce(
                F.sum(F.when(F.col("_cents") < F.col("lo_cents"), F.col("_cnt"))), F.lit(0)
            ).cast("long").alias("n_below"),
            F.coalesce(
                F.sum(F.when(F.col("_cents") > F.col("hi_cents"), F.col("_cnt"))), F.lit(0)
            ).cast("long").alias("n_above"),
        )
    )


def winsorize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo_permille: int = 10,
    hi_permille: int = 990,
):
    """Clip ``value_col`` (as cents) to the per-group nearest-rank
    percentile bounds: the robust alternative to dropping tail rows
    when the downstream consumer needs every row but not its extremes.
    Adds ``cents_winsorized``; the bounds ride a tiny broadcast join
    (one row per group), so the clip itself is shuffle-free on the
    fact side beyond the bounds computation."""
    bounds = percentile_bounds(df, group_col, value_col, lo_permille, hi_permille)
    cents = F.expr(f"cast(floor({value_col} * 100 + 0.5) as long)")
    return (
        df.filter(F.expr(value_col).isNotNull())
        .join(F.broadcast(bounds.select(group_col, "lo_cents", "hi_cents")), group_col)
        .withColumn(
            "cents_winsorized",
            F.greatest(F.col("lo_cents"), F.least(F.col("hi_cents"), cents)),
        )
        .drop("lo_cents", "hi_cents")
    )
