"""Sequence packing for pretraining: concat-and-chunk documents into
fixed-capacity token windows — WITHOUT a global-order window.

The standard pretraining layout concatenates every document's tokens
in a stable order and slices the stream into fixed ``capacity``-token
chunks; a document therefore occupies the half-open token interval
``[cum_before, cum_before + n_tokens)`` and spans chunks
``floor(cum_before / C) .. floor((cum_end - 1) / C)``. Everything
reduces to ONE exact global prefix sum over the doc order.

``SUM(...) OVER (ORDER BY ...)`` with no PARTITION BY is the naive
form — Spark executes it in a single task, a hard wall at 100 TB.
This module computes the identical prefix sum three-phase, the
textbook distributed scan (a global rank is the prefix sum of a
column of ones, so the same device ranks too):

1. range-bucket rows by approx quantiles of the leading order key
   (driver-side sample, scale-free) — buckets respect the order;
2. local cumulative sum inside each bucket with an ordinary
   partitioned window (P parallel tasks);
3. per-bucket totals (P tiny rows) collected and re-emitted as a
   literal prefix-offset map; global cumsum = offset[bucket] + local.

Cost: two tiny driver actions + ONE hash exchange — vs the
single-task global sort. Bit-exact vs the window form (integer sums;
asserted on randomized inputs in tests).

Reference analog: the recognizer's batch assembly of variable-length
labels into fixed-width padded training batches
(``/root/reference/keras_ocr/recognition.py:439-447``), re-expressed
as the corpus-scale token-stream chunking an LLM pipeline runs.
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _range_bucket_expr(value: Column, splits: List[float]) -> Column:
    """0-based range bucket: count of split points strictly below the
    value (monotone in the value, ties share a bucket)."""
    bucket = F.lit(0)
    for s in splits:
        bucket = bucket + F.when(value > F.lit(s), 1).otherwise(0)
    return bucket


def with_global_cumsum(
    df: DataFrame,
    value_col: str,
    order_cols: Sequence[str],
    out_col: str = "cumsum",
    n_range_buckets: int | None = None,
) -> DataFrame:
    """Adds the exact inclusive prefix sum of ``value_col`` over the
    total order ``order_cols`` (which must be a unique key sequence)
    without a partition-less window.

    The input is touched three times (quantile sample, per-bucket
    totals, the output job). It is persisted for the two driver-side
    actions and UNPERSISTED (in a ``finally``, so a failing action
    cannot leak the cache entry) before returning — the output job then
    recomputes the input once (2 upstream computations total instead
    of 3 uncached), but repeated calls cannot leak cache entries for
    the session lifetime. Callers should pass the NARROW projection
    (order cols + value col only) so the cached pass is cheap.

    The input must be DETERMINISTIC under recomputation: the collected
    per-bucket totals come from the cached pass, while the output job
    recomputes the frame after unpersist — a nondeterministic upstream
    can silently disagree with the offsets. The structural guard below
    catches expression-level nondeterminism ONLY (``rand``,
    ``monotonically_increasing_id``: these flip the analyzed plan's
    ``deterministic`` flag). It does NOT catch ``df.sample()`` (Spark
    fixes a seed at plan-build time, so the plan reports deterministic)
    nor cross-run divergence from partition-layout changes between the
    cached collect and the post-unpersist recompute — for those,
    callers must materialize (checkpoint/write) upstream themselves."""
    if not df._jdf.queryExecution().analyzed().deterministic():
        raise ValueError(
            "with_global_cumsum requires a deterministic input frame: "
            "the per-bucket totals are collected from one computation "
            "and the output job recomputes the input — nondeterministic "
            "expressions (rand/monotonically_increasing_id) would "
            "silently produce wrong offsets"
        )
    df = df.persist()
    spark = df.sparkSession
    n_range = n_range_buckets or spark.sparkContext.defaultParallelism
    lead = F.col(order_cols[0]).cast("double")
    try:
        splits: list[float] = []
        if n_range > 1:
            qs = [i / n_range for i in range(1, n_range)]
            got = df.select(lead.alias("_v")).approxQuantile("_v", qs, 0.001)
            splits = sorted(set(got))
        staged = df.withColumn("_rb", _range_bucket_expr(lead, splits))
        totals = {
            int(r["_rb"]): int(r["s"])
            for r in staged.groupBy("_rb")
            .agg(F.coalesce(F.sum(F.col(value_col).cast("long")), F.lit(0)).alias("s"))
            .collect()
        }
    finally:
        df.unpersist()
    w = (
        W.partitionBy("_rb")
        .orderBy(*[F.col(c) for c in order_cols])
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    local = staged.withColumn("_lc", F.sum(F.col(value_col).cast("long")).over(w))
    offsets, acc = {}, 0
    for b in sorted(totals):
        offsets[b] = acc
        acc += totals[b]
    if offsets:
        off_map = F.create_map(*[F.lit(x) for b, o in offsets.items() for x in (b, o)])
        out = local.withColumn(out_col, (F.col("_lc") + off_map[F.col("_rb")]).cast("long"))
    else:  # empty input
        out = local.withColumn(out_col, F.col("_lc").cast("long"))
    return out.drop("_rb", "_lc")


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
