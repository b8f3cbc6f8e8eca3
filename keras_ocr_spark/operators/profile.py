"""One-scan data profiling: per-column audit stats in a single job.

The first thing any pipeline runs against a new 100 TB table: null
rates, cardinalities, ranges — per column. The naive form is one job
per column (N scans); this computes EVERY column's stats in ONE
aggregate over ONE scan, then pivots the single result row to long
format with ``stack`` (rows = columns — driver-light, no collect).

Cost note: multiple exact ``count(DISTINCT ...)`` in one aggregate
plan through Spark's Expand operator — the scan's rows are replicated
once per distinct-agg before the partial aggregate. That is still one
pass over storage (the win at 100 TB is IO, and Expand happens after
column pruning), but for very wide tables swap the exact distinct for
an HLL sketch (``approx_distinct=True``: Spark's
``approx_count_distinct``, same state row, no Expand) — the documented
trade.

Min/max are RENDERED engine-portably by dtype (ints/strings cast,
doubles as floor-rounded cents, timestamps as unix micros, dates ISO)
so the DuckDB oracle reproduces the profile bit-for-bit — a float
rendered via each engine's repr would not round-trip.

Reference analog: the dataset audits the reference runs before
training (alphabet coverage, label lengths, illegal chars —
/root/reference/keras_ocr/datasets.py:438-444), generalized to any
table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _renderers(dtype: str):
    """(min_render, max_render) for a dtype: each maps an aggregated
    Column to a deterministic cross-engine string."""
    if dtype in ("double", "float"):
        return lambda x: F.floor(x * 100 + F.lit(0.5)).cast("long").cast("string")
    if dtype.startswith("timestamp"):
        # parquet timestamps load as TIMESTAMP_NTZ; unix_micros needs
        # the cast (session TZ is UTC, so the reading is unambiguous).
        return lambda x: F.unix_micros(x.cast("timestamp")).cast("string")
    if dtype == "date":
        return lambda x: F.date_format(x, "yyyy-MM-dd")
    return lambda x: x.cast("string")


def profile_table(
    df: DataFrame, cols: list[str] | None = None, approx_distinct: bool = False
) -> DataFrame:
    """Per-column profile: ``col_name, n_rows, n_null, n_distinct,
    min_repr, max_repr`` — one scan, one aggregate, one stack pivot.

    ``approx_distinct=True`` is the wide-table swap the module
    docstring trades on: cardinalities come from Spark's native
    ``approx_count_distinct`` (HyperLogLog++, ~5% rsd) instead of exact
    ``count(DISTINCT)``, which removes the Expand row replication
    entirely — the aggregate state is one HLL sketch per column, so a
    500-column profile costs the same single pass as a 5-column one.
    Everything else (nulls, typed min/max) stays exact."""
    cols = list(cols or df.columns)
    dtypes = dict(df.dtypes)
    missing = [c for c in cols if c not in dtypes]
    if missing:
        raise ValueError(f"unknown columns: {missing}")
    n_distinct = F.approx_count_distinct if approx_distinct else F.count_distinct
    # min/max over STRING columns put a variable-length field in the
    # aggregation buffer, which disqualifies HashAggregate — Spark then
    # plans the WHOLE aggregate (including the Expand-replicated
    # multi-distinct rows) as SortAggregate, sorting ~(1 + n_cols) x
    # n_rows rows at both partial and merge stages. On the EXACT path
    # the string min/max therefore move to their own grouping-free
    # aggregate (no keys, no Expand — nothing to sort) whose 1-row
    # result is attached with the standard 1-row broadcast; every
    # row-volume aggregate then stays hash-based at the cost of one
    # extra column-pruned scan of just the string columns. The HLL path
    # keeps its contract (ONE scan, no Expand, <=2 exchanges — the
    # wide-table trade documented above) and tolerates the sort.
    aggs = [F.count(F.lit(1)).alias("_n")]
    str_aggs = []
    for i, c in enumerate(cols):
        col = F.col(c)
        render = _renderers(dtypes[c])
        aggs += [
            F.count(col).alias(f"_nn{i}"),
            n_distinct(col).alias(f"_nd{i}"),
        ]
        target = str_aggs if dtypes[c] == "string" and not approx_distinct else aggs
        target += [
            render(F.min(col)).alias(f"_mi{i}"),
            render(F.max(col)).alias(f"_ma{i}"),
        ]
    one = df.agg(*aggs)
    if str_aggs:
        one = one.crossJoin(F.broadcast(df.agg(*str_aggs)))
    stacked = ", ".join(f"'{c}', _nn{i}, _nd{i}, _mi{i}, _ma{i}" for i, c in enumerate(cols))
    return one.select(
        "_n",
        F.expr(
            f"stack({len(cols)}, {stacked}) "
            "as (col_name, n_notnull, n_distinct, min_repr, max_repr)"
        ),
    ).select(
        "col_name",
        F.col("_n").cast("long").alias("n_rows"),
        (F.col("_n") - F.col("n_notnull")).cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_repr",
        "max_repr",
    )


def profile_drift(
    old: DataFrame, new: DataFrame, cols: list[str] | None = None
) -> DataFrame:
    """Snapshot-over-snapshot drift report: the per-column comparison an
    ingest pipeline runs between yesterday's and today's batch to catch
    schema rot BEFORE it poisons downstream joins (a lang column going
    10% NULL; a key column's cardinality collapsing).

    One profile scan per snapshot (the minimum — two independent
    tables), joined on ``col_name``. All-integer drift metrics (the
    ``div`` convention):
    ``col_name, n_rows_old, n_rows_new, null_ppm_old, null_ppm_new,
    null_ppm_delta, n_distinct_old, n_distinct_new, distinct_ratio_x100,
    minmax_changed`` — ratio is new*100 div old (0 when old had no
    distinct values), ``minmax_changed`` is 1 when either rendered
    bound moved."""
    cols = list(cols or [c for c in old.columns if c in set(new.columns)])
    po = profile_table(old, cols)
    pn = profile_table(new, cols)
    o = po.select(
        "col_name",
        F.col("n_rows").alias("n_rows_old"),
        F.expr("if(n_rows = 0, 0L, n_null * 1000000L div n_rows)").alias("null_ppm_old"),
        F.col("n_distinct").alias("n_distinct_old"),
        F.col("min_repr").alias("_mino"),
        F.col("max_repr").alias("_maxo"),
    )
    n = pn.select(
        "col_name",
        F.col("n_rows").alias("n_rows_new"),
        F.expr("if(n_rows = 0, 0L, n_null * 1000000L div n_rows)").alias("null_ppm_new"),
        F.col("n_distinct").alias("n_distinct_new"),
        F.col("min_repr").alias("_minn"),
        F.col("max_repr").alias("_maxn"),
    )
    return o.join(n, "col_name").select(
        "col_name",
        "n_rows_old",
        "n_rows_new",
        "null_ppm_old",
        "null_ppm_new",
        (F.col("null_ppm_new") - F.col("null_ppm_old")).alias("null_ppm_delta"),
        "n_distinct_old",
        "n_distinct_new",
        F.expr(
            "if(n_distinct_old = 0, 0L, n_distinct_new * 100L div n_distinct_old)"
        ).alias("distinct_ratio_x100"),
        (
            ~(F.col("_mino").eqNullSafe(F.col("_minn")))
            | ~(F.col("_maxo").eqNullSafe(F.col("_maxn")))
        )
        .cast("long")
        .alias("minmax_changed"),
    )
