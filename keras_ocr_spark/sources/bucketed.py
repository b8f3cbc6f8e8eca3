"""Hive-style bucketed tables: pay the shuffle ONCE at write time.

The co-located join of the 100 TB layout story: ``bucketBy(N,
key).sortBy(key)`` hashes every row into one of N bucket files per
write-task and records the bucket spec in the catalog, so a
later join of two tables bucketed on the SAME key with the SAME N
needs NO Exchange on either input — Spark's SortMergeJoin reads
bucket i against bucket i directly. For a fact table joined daily
against itself or its dimensions, that converts the dominant recurring
shuffle into a one-time ingest cost (the standard warehouse bucketing
playbook; Spark SQL bucketing follows Hive's hash spec).

Works with the in-memory catalog — no Hive metastore needed; the data
lives at an explicit ``path`` so it survives the session while the
catalog entry (which carries the bucket spec) is re-registered on
demand. Mismatched bucket counts or keys degrade gracefully: Spark
re-shuffles one or both sides, results identical (pinned in pytest).

Reference analog: the reference pre-groups recognizer samples by image
so epochs avoid re-reading (/root/reference/keras_ocr/datasets.py) —
here the grouping is persisted into the table layout itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
    sort: bool = True,
) -> None:
    """(Re)write ``df`` as a bucketed catalog table at ``path``. One
    hash shuffle now; every same-key same-N join afterwards is
    exchange-free."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    w = df.write.mode("overwrite").option("path", path).bucketBy(n_buckets, bucket_col)
    if sort:
        w = w.sortBy(bucket_col)
    w.format("parquet").saveAsTable(name)


def ensure_bucketed(
    spark: SparkSession,
    build: callable,
    name: str,
    path: str,
    bucket_col: str,
    n_buckets: int = 8,
) -> DataFrame:
    """Idempotent accessor: if the catalog already has ``name`` (same
    session, e.g. repeated driver runs), reuse it — the bucket spec
    lives in the catalog entry, so reuse keeps the exchange-free plan.
    Otherwise call ``build()`` for the source frame and write it."""
    if not spark.catalog.tableExists(name):
        write_bucketed(build(), name, path, bucket_col, n_buckets)
    return spark.table(name)
