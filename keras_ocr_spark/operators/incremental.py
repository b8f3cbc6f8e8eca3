"""Incremental aggregate-state maintenance (materialized-view delta
folding).

The 100 TB pattern this encodes: a nightly pipeline must NOT rescan its
whole history to refresh per-key aggregates — it keeps a STATE table
(one row per key: count / sum / min / max), aggregates only the new
delta partition, and folds the delta's state into the stored state with
a key-equi-join-shaped merge. That works exactly when every metric is a
commutative monoid (count and sum add; min and max combine by min/max)
— the same partial-aggregate algebra Spark's own map-side combine uses
inside one job, lifted across jobs/days. Non-distributive metrics ride
along in sketch form: a Count-Min cell column merges by elementwise
sum (see ``operators/sketches.py``), slotting into the same state row.

Exactness discipline: sums are carried as int64 fixed point (cents),
quantized BEFORE the aggregation — integer addition is associative, so
the merge result is bit-identical to a full recompute in ANY engine and
under ANY partitioning, where a double sum would drift in the last ulp
with summation order. min/max/avg never do cross-row float arithmetic
(avg divides two exact values at read time).

The correctness contract IS the maintenance theorem:
``merge(state(A), state(B)) == state(A UNION ALL B)`` for any split
(``tests/test_incremental.py``).

Reference analog: the recognizer's running corpus statistics
(/root/reference/keras_ocr/recognition.py:61-74) recomputed per epoch;
here the state folds instead of recomputing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed-point scale for the carried sum (cents).
_SCALE = 100


def agg_state(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-key aggregate state: ``keys..., cnt, sum_cents, min_v,
    max_v``. One map-side-combined groupBy; output size is |keys|, not
    |input|. ``sum_cents`` is the int64 fixed-point sum (value * 100,
    half-up) so downstream merges stay exact under any grouping order.
    """
    v = F.col(value_col)
    cents = F.floor(v * _SCALE + F.lit(0.5)).cast("long")
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(cents).alias("sum_cents"),
        F.min(v).alias("min_v"),
        F.max(v).alias("max_v"),
    )


def merge_agg_state(a: DataFrame, b: DataFrame, keys: list[str]) -> DataFrame:
    """Fold two state frames: per key, counts and sums ADD, min/max
    COMBINE. Keys present on only one side pass through unchanged
    (union semantics — a new key in the delta simply appears). The
    merge input is two |keys|-sized frames however large the underlying
    data was — this groupBy never touches raw rows."""
    return (
        a.unionByName(b)
        .groupBy(*keys)
        .agg(
            F.sum("cnt").alias("cnt"),
            F.sum("sum_cents").alias("sum_cents"),
            F.min("min_v").alias("min_v"),
            F.max("max_v").alias("max_v"),
        )
    )


def finalize_state(state: DataFrame, keys: list[str], ndigits: int = 6) -> DataFrame:
    """Read-time projection of derived metrics: avg from the exact
    (sum_cents, cnt) pair. Division happens once, on identical exact
    inputs in every engine, then floor-half-up rounds to ``ndigits`` —
    the repo's cross-engine float convention."""
    from ..functions.numeric import pround

    avg = F.col("sum_cents").cast("double") / F.lit(float(_SCALE)) / F.col("cnt").cast("double")
    return state.select(
        *keys,
        F.col("cnt").cast("long").alias("cnt"),
        F.col("sum_cents").cast("long").alias("sum_cents"),
        F.col("min_v").cast("double").alias("min_v"),
        F.col("max_v").cast("double").alias("max_v"),
        pround(avg, ndigits).alias("avg_v"),
    )
