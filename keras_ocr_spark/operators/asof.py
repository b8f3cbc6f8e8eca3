"""Distributed as-of join — the temporal lookup a transcript/event
pipeline runs constantly ("the most recent X at or before this row's
time, per key"): enrich turns with the latest config/session/experiment
state, align metrics to events, point-in-time-correct feature joins.

Spark has no ASOF JOIN operator (DuckDB/Pandas do). The naive form —
a range join ``l.ts >= r.ts`` + per-left argmax — explodes to
|L| x |R| / keys pairs before the argmax prunes them. The scale-correct
formulation is the classic UNION + ORDERED WINDOW:

1. union both sides into one frame, tagged ``_side`` (right=0, left=1),
   right-hand payload columns null on left rows;
2. one window per key ordered by (ts, _side): ``last(payload,
   ignorenulls=True)`` over UNBOUNDED PRECEDING..CURRENT carries the
   most recent right payload forward onto every left row — right rows
   sort BEFORE left rows at equal ts, so the match is inclusive
   (``r.ts <= l.ts``), matching DuckDB ``ASOF JOIN ... ON l.ts >= r.ts``;
3. keep left rows.

Cost: ONE shuffle (the window's hash exchange on the key) over |L|+|R|
rows — no range explosion, no skew amplification beyond the key's own
row count. The semantics (including misses -> NULL) are those of
DuckDB's native ASOF LEFT JOIN.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_vals: Sequence[str] = ("value",),
    suffix: str = "_asof",
) -> DataFrame:
    """For every left row: the latest right row of the same key with
    ``right.right_ts <= left.left_ts`` (NULL payload when none exists).
    Right (key, ts) pairs should be unique for a deterministic pick —
    the same requirement DuckDB's ASOF JOIN has."""
    keys = list(keys)
    payload = [f"{v}{suffix}" for v in right_vals]
    l_tagged = left.withColumn("_ats", F.col(left_ts)).withColumn("_side", F.lit(1))
    # ALL payload columns ride in ONE struct: F.struct(...) is non-null
    # as a VALUE even when every field inside is NULL, so
    # last(ignorenulls) selects the latest matching right ROW atomically
    # — a matched row whose payload value is genuinely NULL yields NULL
    # (DuckDB ASOF semantics), never an older row's value, and multiple
    # payload columns always come from the SAME right row. (Carrying
    # each column separately with last(col, ignorenulls=True) got both
    # of those wrong for null payloads.)
    r_tagged = right.select(
        *keys,
        F.col(right_ts).alias("_ats"),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(v).alias(p) for v, p in zip(right_vals, payload)]).alias("_asof_p"),
    )
    merged = l_tagged.unionByName(r_tagged, allowMissingColumns=True)
    w = W.partitionBy(*keys).orderBy("_ats", "_side").rowsBetween(W.unboundedPreceding, 0)
    carried = merged.select("*", F.last("_asof_p", ignorenulls=True).over(w).alias("_c"))
    out = carried.filter(F.col("_side") == 1)
    for p in payload:
        out = out.withColumn(p, F.col(f"_c.{p}"))
    return out.drop("_c", "_asof_p", "_ats", "_side")
