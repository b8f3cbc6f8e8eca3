"""Output layout management: compaction + clustering for the sink side.

At 100 TB the writer's file layout decides every later scan's cost:
- **small-files compaction** — a streaming/checkpointed writer leaves
  thousands of tiny files per partition; readers pay per-file open cost
  and planners per-file metadata. Compaction rewrites to
  ~``target_file_mb`` files.
- **clustering** — range-partitioning by the access keys
  (``conv_id, turn_idx``) plus an in-file sort gives readers contiguous
  conversations and parquet min/max pruning on the cluster keys (the
  poor man's Z-order for a 1-D-dominant access pattern; real Iceberg
  would express this as a sort order in table metadata).

Sizing uses the actual on-disk bytes of the input (driver-side file
listing — cheap metadata, no data read), so the target holds for any
compression ratio.
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def dir_bytes(path: str) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*.parquet"))


def plan_num_files(input_bytes: int, target_file_mb: int) -> int:
    return max(1, math.ceil(input_bytes / (target_file_mb * 1024 * 1024)))


def compact(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    target_file_mb: int = 128,
    cluster_cols: list | None = None,
) -> dict:
    """Rewrite ``input_path`` into ~``target_file_mb`` parquet files,
    optionally range-clustered + sorted on ``cluster_cols``.

    Range partitioning puts each key range in exactly one file (global
    clustering); the within-partition sort makes parquet row-group
    min/max statistics tight on the cluster keys, so later scans with
    key predicates prune files AND row groups.

    Returns {files_before, files_after, bytes, planned_files}.
    """
    df = spark.read.parquet(input_path)
    n_before = len(list(Path(input_path).rglob("*.parquet")))
    total = dir_bytes(input_path)
    n_files = plan_num_files(total, target_file_mb)
    if cluster_cols:
        cols = [F.col(c) for c in cluster_cols]
        out = df.repartitionByRange(n_files, *cols).sortWithinPartitions(*cols)
    else:
        out = df.repartition(n_files)
    out.write.mode("overwrite").parquet(output_path)
    n_after = len(list(Path(output_path).rglob("*.parquet")))
    return {
        "files_before": n_before,
        "files_after": n_after,
        "bytes": total,
        "planned_files": n_files,
    }


def cluster_stats(spark: SparkSession, path: str, key: str) -> DataFrame:
    """Per-file min/max of ``key`` — the pruning evidence: after
    clustering, file ranges are (nearly) disjoint, so a key predicate
    touches ~1 file."""
    df = spark.read.parquet(path).withColumn("_file", F.input_file_name())
    return df.groupBy("_file").agg(
        F.min(key).alias("key_min"), F.max(key).alias("key_max"), F.count("*").alias("rows")
    )


# ==========================================================================
# Z-order (Morton) multi-dimensional clustering
# ==========================================================================

#: Bit-spread rounds: 16-bit value -> even bit positions of 32 bits.
_SPREAD_ROUNDS = ((8, 0x00FF00FF), (4, 0x0F0F0F0F), (2, 0x33333333), (1, 0x55555555))


def zspread(col):
    """Spread the low 16 bits of ``col`` to the even bit positions of a
    32-bit lane (the classic shift-or-mask ladder) — pure int64 Column
    ops (``<<``/``|``/``&`` by literal amounts), bit-identical in any
    engine."""
    x = col.cast("long").bitwiseAND(F.lit(0xFFFF))
    for sh, mask in _SPREAD_ROUNDS:
        x = x.bitwiseOR(F.shiftleft(x, sh)).bitwiseAND(F.lit(mask))
    return x


def zorder_key(x_col, y_col):
    """Morton/Z-value of two columns (low 16 bits each): interleaved
    bits, x in the even lanes, y in the odd. Sorting by this single
    key clusters data in BOTH dimensions at once — the multi-dim
    upgrade of :func:`compact`'s 1-D range clustering (Delta/Iceberg
    ``OPTIMIZE ZORDER BY`` semantics; Morton 1966). A z-prefix of
    ``2k`` bits is a quadtree cell: it confines x AND y each to a
    ``2^(16-k)``-wide range, so parquet min/max footers stay tight in
    both dimensions and predicates on EITHER column prune files."""
    return zspread(x_col).bitwiseOR(F.shiftleft(zspread(y_col), 1))


def zorder_write(df: DataFrame, path: str, x_col: str, y_col: str, n_files: int = 8) -> None:
    """Write ``df`` z-ordered: range-partition by the z-value (one range
    exchange — the same shuffle a 1-D sorted write pays) + in-file sort,
    so every output file is a contiguous z-range = a set of quadtree
    cells, tight in both dimensions."""
    z = zorder_key(F.col(x_col), F.col(y_col)).alias("_z")
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )


def zcell_stats(df: DataFrame, x_col: str, y_col: str, cell_bits: int = 4) -> DataFrame:
    """Per-quadtree-cell occupancy + bounding box: cell = top
    ``2*cell_bits`` bits of the z-value. The bounding-box ranges are
    the pruning guarantee made measurable: every cell's x and y ranges
    are < 2^(16-cell_bits) (asserted in tests). One map-side-combined
    groupBy over at most 4^cell_bits cells."""
    if not 1 <= cell_bits <= 16:
        raise ValueError("cell_bits must be in [1, 16]")
    x = F.col(x_col).cast("long").bitwiseAND(F.lit(0xFFFF))
    y = F.col(y_col).cast("long").bitwiseAND(F.lit(0xFFFF))
    z = zorder_key(F.col(x_col), F.col(y_col))
    return (
        df.select(
            F.shiftright(z, 32 - 2 * cell_bits).alias("cell"),
            x.alias("_x"),
            y.alias("_y"),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.min("_x").alias("min_x"),
            F.max("_x").alias("max_x"),
            F.min("_y").alias("min_y"),
            F.max("_y").alias("max_y"),
        )
    )
