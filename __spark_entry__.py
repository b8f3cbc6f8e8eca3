"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship map-only detect-then-extract pipeline
(one Arrow UDF runs the per-turn kernel, which proposes spans, decodes
each once and joins the kept ones in order; a per-row projection reads
its fields — see ``keras_ocr_spark/plans/pipeline.py``) over transcripts
synthesized deterministically from the sf0.001 documents table.

``queries()`` / ``oracle_sql()`` expose the query registry in
``keras_ocr_spark/driver_queries.py``, all over ``documents``:
extraction and decode, evaluation, the corpus-curation operators (dedup,
quality, PII, contamination, split, mix, ``curate_corpus``) and
snapshots, each with an exact DuckDB oracle.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from keras_ocr_spark.driver_queries import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    fn, _ = QUERIES["extract_documents"]
    return fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: fn for name, (fn, _sql) in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL for each SQL-expressible query."""
    return {name: sql for name, (_fn, sql) in QUERIES.items() if sql is not None}
