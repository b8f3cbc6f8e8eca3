"""TableIO seam: Iceberg-style table access behind a thin interface.

The north rule targets Iceberg transcript tables. This sandbox has no
Iceberg runtime jars and no network, so the seam has two backends:

- ``ParquetTableIO`` (active): plain parquet reads and writes. The
  snapshot/partition metadata an Iceberg catalog keeps is emulated by
  the JSON manifests that ``plans.observe.commit`` publishes after
  each write (checkpoint buckets, snapshot versions, streaming
  epochs);
- ``IcebergTableIO`` (stub, import-gated): the production backend —
  ``spark.read.table(...)`` / ``df.writeTo(tbl).append()`` with snapshot
  pinning via ``VERSION AS OF``. Both expose the same
  ``read``/``append``/``overwrite``; no pipeline code references a
  concrete backend.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class ParquetTableIO:
    """Parquet-backed tables (sandbox default)."""

    spark: SparkSession

    def read(self, path_or_name: str) -> DataFrame:
        return self.spark.read.parquet(path_or_name)

    def append(self, df: DataFrame, path_or_name: str) -> None:
        df.write.mode("append").parquet(path_or_name)

    def overwrite(self, df: DataFrame, path_or_name: str) -> None:
        df.write.mode("overwrite").parquet(path_or_name)


@dataclass
class IcebergTableIO:
    """Iceberg catalog tables (production; requires iceberg-spark-runtime
    on the classpath and a configured catalog)."""

    spark: SparkSession
    snapshot_id: int | None = None

    def __post_init__(self):
        jars = self.spark.conf.get("spark.jars.packages", "")
        if "iceberg" not in jars:
            raise NotImplementedError(
                "Iceberg runtime not on the classpath in this sandbox; "
                "configure spark.jars.packages=org.apache.iceberg:iceberg-spark-runtime-... "
                "and a catalog, then this backend is a drop-in"
            )

    def read(self, name: str) -> DataFrame:
        reader = self.spark.read
        if self.snapshot_id is not None:
            reader = reader.option("snapshot-id", str(self.snapshot_id))
        return reader.table(name)

    def append(self, df: DataFrame, name: str) -> None:
        df.writeTo(name).append()

    def overwrite(self, df: DataFrame, name: str) -> None:
        df.writeTo(name).overwritePartitions()


def write_jsonl(df: DataFrame, path: str) -> None:
    """Write a frame as JSON-lines (the interchange format most
    LLM-data tooling speaks). One file per partition, standard Spark
    text-JSON encoding."""
    df.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read JSON-lines with an EXPLICIT schema.

    Schema inference over JSONL costs a full extra pass over the data
    and can widen types on dirty rows — at 100 TB both are
    disqualifying, so the schema is required and the scan is
    single-pass. Malformed-row visibility: in PERMISSIVE mode with an
    explicit schema a corrupt line becomes an ALL-NULL row (silent) —
    to surface them, append ``, _corrupt_record string`` to the schema
    (Spark then captures the raw line there), or read with
    ``.option("mode", "FAILFAST")`` to abort on the first bad line.

    Reference analog: ``tools.read`` polymorphic source handling
    (``/root/reference/keras_ocr/tools.py:19-38``) — format dispatch
    at the edge, one internal representation after it.
    """
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str) -> None:
    """Write ORC (zlib-compressed by Spark default) — the columnar
    sibling to parquet a lakehouse meets in Hive-era estates. Built
    into Spark; no extra jars."""
    df.write.mode("overwrite").orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """Read ORC. Columnar with embedded schema + column statistics —
    unlike JSONL there is no inference pass to avoid (the footer
    carries the schema) and min/max predicate pushdown works the same
    as parquet's (`.explain` shows PushedFilters on the ORC scan)."""
    return spark.read.orc(path)
