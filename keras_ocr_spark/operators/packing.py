"""Sequence packing for pretraining, and the one lazy distributed prefix
scan the package's running sums and global ranks run on.

The standard pretraining layout concatenates every document's tokens
in a stable order and slices the stream into fixed ``capacity``-token
chunks; a document therefore occupies the half-open token interval
``[cum_before, cum_before + n_tokens)`` and spans chunks
``floor(cum_before / C) .. floor((cum_end - 1) / C)``. Everything
reduces to ONE exact global prefix sum over the doc order.

``SUM(...) OVER (ORDER BY ...)`` with no PARTITION BY is the naive
form — Spark executes it in a single task, a hard wall at 100 TB.
:func:`prefix_sum` computes the identical sum in three phases, the
bucketed window aggregation of *Disco* (EDBT 2020); a rank is the
prefix sum of a column of ones, so the same scan ranks too:

1. the caller's bucket, monotone in the order, splits each group's
   rows; a running sum runs per ``(group…, bucket)`` window task;
2. each bucket's total is a sum read off that window's output, so
   both branches read the one window exchange;
3. each total is exploded to every bucket of its group and summed per
   target bucket (at most ``n_buckets²`` tiny rows per group, no
   window), and the offsets are broadcast-joined back.

Building the plan runs no Spark job, and nothing is persisted or
collected. When the input holds only the columns the scan reads, totals
and local sums come from one shuffle, so the sums are exact for
whatever rows that shuffle holds, nondeterministic inputs included.
Bit-exact vs the window form (integer sums; asserted on randomized
inputs in tests).

Reference analog: the recognizer's batch assembly of variable-length
labels into fixed-width padded training batches
(``/root/reference/keras_ocr/recognition.py:439-447``), re-expressed
as the corpus-scale token-stream chunking an LLM pipeline runs.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def prefix_sum(
    df: DataFrame,
    value: Column,
    order: Sequence[Column],
    bucket: Column,
    n_buckets: int,
    out_col: str,
    groups: Sequence[str] = (),
    total_col: str | None = None,
) -> DataFrame:
    """Adds ``out_col``: the exact inclusive running sum (long) of
    ``value`` over ``order`` within each ``groups`` group, and, when
    ``total_col`` is given, the group's total.

    ``bucket`` must be monotone non-decreasing in ``order`` and lie in
    ``[0, n_buckets)``; a NULL bucket counts as bucket 0, where an
    ascending (NULLS FIRST) order puts NULL keys. Ties in ``order``
    get an arbitrary but consistent order, as ``row_number`` gives
    them. Rows with a NULL group key are dropped. For both branches to
    share the window exchange, ``df`` should hold only the columns the
    scan reads (the order, value and group columns); extra columns are
    pruned from the totals branch only, which then computes ``df`` and
    shuffles again, so ``df`` must then be deterministic."""
    keys = [*groups, "_rb"]
    staged = df.withColumn("_rb", F.coalesce(bucket.cast("int"), F.lit(0)))
    for g in groups:
        # The join below infers these filters on its broadcast side;
        # applying them before the window keeps both branches' plans
        # identical below the window exchange, so it is reused.
        staged = staged.filter(F.col(g).isNotNull())
    w = W.partitionBy(*keys).orderBy(*order)
    local = staged.select(
        "*",
        F.sum(value).over(w.rowsBetween(W.unboundedPreceding, W.currentRow)).alias("_lc"),
        # the bucket total on the same window node: an aggregate of the
        # value itself would prune the window and shuffle again
        F.sum(value).over(w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)).alias("_bt"),
    )
    # _bt is one value per bucket; max reads it off
    totals = local.groupBy(*keys).agg(F.max("_bt").alias("_t"))
    to = F.explode(F.sequence(F.lit(0), F.lit(n_buckets - 1)))
    offsets = (
        totals.select(*groups, F.col("_rb").alias("_from"), "_t", to.alias("_rb"))
        .groupBy(*keys)
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_from") < F.col("_rb"), F.col("_t"))), F.lit(0)
            ).alias("_off"),
            F.sum("_t").alias("_tot"),
        )
    )
    out = local.join(F.broadcast(offsets), keys, "left").withColumn(
        out_col, (F.col("_off") + F.col("_lc")).cast("long")
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_tot").cast("long"))
    return out.drop("_rb", "_lc", "_bt", "_off", "_tot")


def md5_prefix_bucket(hex_key: Column, n_buckets: int) -> Column:
    """Bucket in ``[0, n_buckets)`` from the leading 16 bits of a hex
    key: monotone in the key (integer division by a constant keeps
    order) and uniform when the key is an md5 digest."""
    lead16 = F.conv(F.substring(hex_key, 1, 4), 16, 10).cast("long")
    return (lead16 * int(n_buckets) / 65536).cast("int")


def with_global_cumsum(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    out_col: str = "cumsum",
    n_range_buckets: int | None = None,
) -> DataFrame:
    """Adds the exact inclusive prefix sum of ``value_col`` over the
    total order ``order_cols`` (which must be a unique key sequence)
    without a partition-less window: :func:`prefix_sum` over range
    buckets of the leading order key.

    The range splits are a lazy ``percentile_approx`` of the leading
    key, one scalar subquery computed once when the plan runs. Any
    splits give exact sums (the bucket is monotone in the key and the
    offsets are that bucket's own totals); the quantiles only balance
    the window tasks. Callers should pass the NARROW projection (order
    cols + value col only), so the window exchange is shared."""
    n_range = max(1, n_range_buckets or df.sparkSession.sparkContext.defaultParallelism)
    lead = F.col(order_cols[0]).cast("double")
    staged, bucket = df, F.lit(0)
    if n_range > 1:
        qs = [i / n_range for i in range(1, n_range)]
        splits = df.select(F.percentile_approx(lead, qs, 1000).alias("_s")).scalar()
        # one column holds the splits, so the subquery is planned once;
        # the bucket counts the splits strictly below the key (ties
        # share a bucket; a NULL key or no splits gives bucket 0)
        staged = df.withColumn("_sp", splits)
        for i in range(n_range - 1):
            bucket = bucket + F.when(lead > F.col("_sp")[i], 1).otherwise(0)
    order = [F.col(c) for c in order_cols]
    return prefix_sum(staged, F.col(value_col), order, bucket, n_range, out_col).drop("_sp")


def pack_chunks(
    df: DataFrame,
    tokens_col: str,
    order_cols: Sequence[str],
    capacity: int,
    n_range_buckets: int | None = None,
) -> DataFrame:
    """Concat-and-chunk packing layout: for each row (document), the
    chunk ids and in-chunk offset its tokens land in when the corpus
    token stream (in ``order_cols`` order) is sliced into
    ``capacity``-token chunks. Documents may straddle chunks — exactly
    the GPT-style pretraining layout. Adds

    - ``cum_before``: tokens preceding this doc in the stream,
    - ``chunk_first`` / ``chunk_last``: chunk id range occupied,
    - ``offset_in_chunk``: position of the doc's first token inside
      ``chunk_first``.

    Zero-token docs are assigned to the boundary chunk they sit at
    (``chunk_last = chunk_first``, occupying no tokens).
    """
    cum = with_global_cumsum(df, tokens_col, order_cols, "_ce", n_range_buckets)
    n = F.col(tokens_col).cast("long")
    before = (F.col("_ce") - n).alias("cum_before")
    cap = F.lit(int(capacity))
    first = F.floor((F.col("_ce") - n) / cap).cast("long")
    last = F.when(n > 0, F.floor((F.col("_ce") - 1) / cap)).otherwise(first).cast("long")
    return (
        cum.withColumn("cum_before", before)
        .withColumn("chunk_first", first)
        .withColumn("chunk_last", last)
        .withColumn("offset_in_chunk", (F.col("cum_before") % cap).cast("long"))
        .drop("_ce")
    )
