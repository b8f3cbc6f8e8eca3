"""commit: one-scan write-time metrics via Observation, here with no
manifest to publish. No oracle query (the value IS the side-effect-free
metric delivery on a write action); pinned here against a
recomputation, with the single-job claim checked via the Spark status
tracker."""

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.plans.observe import commit


class TestWriteWithAudit:
    def test_metrics_match_recompute_and_files_land(self, spark, tmp_path):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        path = str(tmp_path / "audited")
        got = commit(
            df,
            path,
            {
                "n": "count(*)",
                "null_lang": "sum(cast(lang is null as bigint))",
                "short_docs": "sum(cast(n_chars < 100 as bigint))",
            },
            manifests=lambda a: {},
        )
        want = df.agg(
            F.expr("count(*)").alias("n"),
            F.expr("sum(cast(lang is null as bigint))").alias("null_lang"),
            F.expr("sum(cast(n_chars < 100 as bigint))").alias("short_docs"),
        ).collect()[0]
        assert got["n"] == want.n
        assert got["null_lang"] == (want.null_lang or 0)
        assert got["short_docs"] == want.short_docs
        back = spark.read.parquet(path)
        assert back.count() == got["n"]
        assert back.schema == df.schema

    def test_single_job_for_write_plus_metrics(self, spark, tmp_path):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        tracker = spark.sparkContext.statusTracker()
        before = len(tracker.getJobIdsForGroup(None) or [])
        commit(df, str(tmp_path / "one_job"), {"n": "count(*)"}, manifests=lambda a: {})
        after = len(tracker.getJobIdsForGroup(None) or [])
        # the write is one job; the metric must NOT add another
        assert after - before == 1

    def test_observe_sees_the_final_frame(self, spark, tmp_path):
        # The documented caveat: metrics describe the frame they are
        # attached to. Attached AFTER the filter, they count kept rows.
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        kept = df.filter(F.col("n_chars") >= 100)
        got = commit(kept, str(tmp_path / "final"), {"n": "count(*)"}, manifests=lambda a: {})
        assert got["n"] == kept.count()
        assert got["n"] < df.count()

    def test_validation(self, spark, tmp_path):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        with pytest.raises(ValueError):
            commit(df, str(tmp_path / "x"), {}, manifests=lambda a: {})
