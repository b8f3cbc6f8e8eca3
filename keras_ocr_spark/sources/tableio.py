"""Interchange formats: JSON-lines and ORC reads and writes. JSON-lines
reads take an explicit schema, so no inference pass runs."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
