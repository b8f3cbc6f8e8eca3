"""Cogrouped pandas UDF — the last pandas-UDF API surface
(``groupBy().cogroup().applyInPandas``), exercised on a real merge.

Use case: per-key reconciliation of two event streams whose logic is
genuinely imperative (pandas merges, per-key model scoring, custom
alignment) — the escape hatch when a join + agg can't express the
per-key computation. Each key's two groups arrive as two pandas
DataFrames in ONE Python call; Spark co-shuffles both sides on the
key (same single exchange per side a join would pay) and the Arrow
boundary is per-group batched.

The example deliberately computes a join-expressible summary so a
plain join + agg can check the cogroup path end to end — the point is
certifying the API surface, not the example logic.

Reference analog: ``datasets.get_recognizer_image_generator`` pairing
image rows with their label rows per sample
(``/root/reference/keras_ocr/datasets.py:56-76``) — per-key alignment
of two row families.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def cogroup_user_activity(events: DataFrame, orders: DataFrame) -> DataFrame:
    """Per-user reconciliation of event activity vs order history via a
    cogrouped pandas UDF: full-outer per-key merge emitting
    ``(user_id, n_events, events_value, n_orders, orders_total)``.
    Keys present on either side appear exactly once."""

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        raw = left["user_id"].iloc[0] if len(left) else right["o_custkey"].iloc[0]
        # A NULL join key forms its own cogroup; surface it as a null
        # key row rather than crashing on int(NaN).
        uid = None if pd.isna(raw) else int(raw)
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(left)],
                "events_value": [float(left["value"].sum()) if len(left) else 0.0],
                "n_orders": [len(right)],
                "orders_total": [float(right["o_totalprice"].sum()) if len(right) else 0.0],
            }
        )

    grouped = events.select("user_id", "value").groupBy("user_id").cogroup(
        orders.select("o_custkey", "o_totalprice").groupBy("o_custkey")
    )
    return grouped.applyInPandas(
        merge,
        schema="user_id long, n_events long, events_value double, n_orders long, orders_total double",
    )
