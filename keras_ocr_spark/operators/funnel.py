"""Ordered-funnel conversion and cohort-retention analysis over event logs.

Counts, for an ordered list of stages, the users whose first stage-i
event occurs STRICTLY AFTER their stage-(i-1) entry time (first-touch
attribution). The sequential-threshold shape is the reference's
detect-then-recognize gating (a box must survive the detection
threshold before the recognizer sees it — ``pipeline.py:44-60``)
lifted to user timelines: each stage admits only entities that cleared
the previous stage, in order.

Scale shape: one filtered min-aggregate plus one equi-join per stage,
every one keyed on the user column — the first aggregation's hash
partitioning is reused by every later join (co-partitioned exchanges
collapse). The frontier frame shrinks monotonically stage over stage,
so later joins get broadcast-eligible under AQE. Timestamps compare in
exact int64 microseconds (``unix_micros``) — no float blur on boundary
events, and bit-parity with DuckDB's ``epoch_us``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel_stages(
    events: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Per-stage funnel counts: ``(stage_idx, stage, n_users)``, one row
    per stage in order. ``stages`` must be non-empty; a user enters
    stage i at the minimum event time strictly greater than their stage
    i-1 entry time.
    """
    if not stages:
        raise ValueError("stages must be non-empty")
    us = F.unix_micros(F.col(ts_col).cast("timestamp")).alias("us")
    rows = []
    frontier = None
    for i, stage in enumerate(stages):
        hits = events.filter(F.col(type_col) == stage).select(F.col(user_col).alias("u"), us)
        if frontier is None:
            frontier = hits.groupBy("u").agg(F.min("us").alias("t"))
        else:
            frontier = (
                hits.join(frontier.select("u", F.col("t").alias("t_prev")), "u")
                .filter(F.col("us") > F.col("t_prev"))
                .groupBy("u")
                .agg(F.min("us").alias("t"))
            )
        rows.append(
            frontier.agg(
                F.lit(i).cast("long").alias("stage_idx"),
                F.lit(stage).alias("stage"),
                F.count(F.lit(1)).cast("long").alias("n_users"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionAll(r)
    return out


def cohort_retention(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    week_us: int = 7 * 86_400_000_000,
) -> DataFrame:
    """Cohort retention matrix: users grouped by their FIRST-activity
    week (the cohort), counted in each subsequent week they were active.
    Returns ``(cohort_week, week_offset, n_users)`` — the classic
    retention triangle, offset 0 being the cohort's own size.

    Weeks are pure integer arithmetic — ``epoch_micros DIV week_us`` —
    not calendar ``date_trunc``, so the bucketing is bit-identical in
    any engine and free of timezone/week-start semantics (the repo's
    cross-engine discipline; see ``unix_micros`` use throughout).

    Scale shape: one (user, week) distinct + one per-user min — both
    hash-keyed on the user column, the second reusing the first's
    partitioning — then one groupBy on the (cohort, offset) pair whose
    key space is weeks², tiny. No windows, no global sort.
    """
    wk = (F.unix_micros(F.col(ts_col).cast("timestamp")) / F.lit(week_us)).cast("long")
    act = events.select(F.col(user_col).alias("u"), wk.alias("w")).distinct()
    first = act.groupBy("u").agg(F.min("w").alias("cw"))
    return (
        act.join(first, "u")
        .groupBy(
            F.col("cw").alias("cohort_week"),
            (F.col("w") - F.col("cw")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
