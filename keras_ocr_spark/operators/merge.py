"""SCD1 merge-upsert — the lakehouse MERGE INTO shape, backend-neutral.

A daily ingest doesn't append blindly: corrected turns / re-crawled
docs must UPDATE their row, genuinely new keys INSERT. On Iceberg this
is ``MERGE INTO target USING source ON key WHEN MATCHED THEN UPDATE
WHEN NOT MATCHED THEN INSERT`` (copy-on-write / merge-on-read decided
by the table); without the Iceberg jars the operator computes the
exact post-MERGE table as a plan any backend can write back.

Plan shape: ONE full-outer equi-join on the key (source wins where
both exist) — a single hash shuffle of each side; at 100 TB with a
bucketed/partitioned target the join co-locates and the rewrite
touches only matched partitions (what Iceberg's merge-on-read does
natively).

Reference analog: ``download_and_verify``'s replace-if-changed
semantics (``/root/reference/keras_ocr/tools.py:81-101``) — fetch,
compare, overwrite the stale copy — lifted from files to table rows.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_upsert(target: DataFrame, source: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Post-MERGE table: source rows replace matching target rows
    (SCD1 'source wins'), unmatched source rows insert, unmatched
    target rows carry over. Both frames must share a schema.

    Precondition (same as SQL MERGE INTO, which errors on 'multiple
    source rows matched'): ``key_cols`` must be unique within
    ``source`` — a duplicated source key would multiply the matched
    target row in the output.
    """
    if target.columns != source.columns:
        raise ValueError(f"schema mismatch: {target.columns} vs {source.columns}")
    keys = list(key_cols)
    vals = [c for c in target.columns if c not in keys]
    t = target.alias("t")
    # Row-presence marker: never-null, so it works for null keys and
    # null values alike (keys join via eqNullSafe below).
    s = source.withColumn("_present", F.lit(True)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, cond, "full_outer")
    present = F.col("s._present").isNotNull()
    picked = [
        F.when(present, F.col(f"s.{k}")).otherwise(F.col(f"t.{k}")).alias(k) for k in keys
    ] + [
        # source wins whenever the source ROW exists (matched update),
        # not merely when its value is non-null.
        F.when(present, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in vals
    ]
    return joined.select(*picked)


def table_diff(
    left: DataFrame, right: DataFrame, key_cols: Sequence[str]
) -> DataFrame:
    """Keyed diff of two same-schema tables: one row per key that
    differs, with ``status`` in {'only_left', 'only_right', 'changed'}.

    The anti-entropy primitive of pipeline operations: validate a
    migration, a backfill, or a MERGE before committing it. ONE
    full-outer equi-join on the key; value comparison is a single
    md5-of-JSON-struct expression per side, so wide rows compare in
    O(1) shuffled bytes per row... the shuffle carries the digest, not
    the row. JSON encoding makes the digest injective up to md5:
    column boundaries are quoted/escaped (no separator-shift
    collisions) and SQL NULL encodes distinctly from every string.
    Keys whose rows are identical are dropped before the result
    materializes.
    """
    if left.columns != right.columns:
        raise ValueError(f"schema mismatch: {left.columns} vs {right.columns}")
    keys = list(key_cols)
    vals = [c for c in left.columns if c not in keys]

    def digest(df: DataFrame, side: str) -> DataFrame:
        fp = F.md5(F.to_json(F.struct(*[F.col(c) for c in vals])))
        return df.select(*keys, fp.alias(f"_fp_{side}"))

    l = digest(left, "l")
    r = digest(right, "r")
    cond = [l[k].eqNullSafe(r[k]) for k in keys]
    joined = l.join(r, cond, "full_outer")
    status = (
        F.when(r["_fp_r"].isNull(), F.lit("only_left"))
        .when(l["_fp_l"].isNull(), F.lit("only_right"))
        .when(l["_fp_l"] != r["_fp_r"], F.lit("changed"))
    )
    picked = [F.coalesce(l[k], r[k]).alias(k) for k in keys]
    return joined.select(*picked, status.alias("status")).filter(F.col("status").isNotNull())
