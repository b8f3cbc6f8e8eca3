"""One ``curate_corpus`` pass on the conformance fixture: how many Spark
jobs it runs, and whether a warm pass reuses its generated code."""

from pathlib import Path

import pytest
from test_driver_conformance import SF_DIR

from keras_ocr_spark.driver_queries import QUERIES

pytestmark = pytest.mark.skipif(not Path(SF_DIR).exists(), reason="driver testdata absent")


def _run(spark, group: str) -> dict:
    """Builds and collects ``curate_corpus`` once; returns the number of
    Spark jobs each step ran."""
    sc = spark.sparkContext
    build, collect = f"{group}.build", f"{group}.collect"
    try:
        sc.setJobGroup(build, "curate_corpus build")
        df = QUERIES["curate_corpus"][0](spark, SF_DIR)
        sc.setJobGroup(collect, "curate_corpus collect")
        df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return {
        "build": len(tracker.getJobIdsForGroup(build)),
        "collect": len(tracker.getJobIdsForGroup(collect)),
    }


def _compilations(spark) -> int:
    """Janino compilations this JVM has run so far."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_pass_runs_at_most_19_jobs(spark):
    # Building the frame runs 12 or 13 of the 18-19 jobs here:
    # parquet schema inference, the docs repartition, the closure's
    # checkpoint round with the pair pipeline inside it, and the shuffle
    # stages that AQE runs when the surv and gated lineage cuts are
    # taken. The collect runs the other 6.
    jobs = _run(spark, "curate_corpus.jobs")
    assert jobs["build"] + jobs["collect"] <= 19, jobs


def test_warm_pass_compiles_no_new_classes(spark):
    # A pass needs about 170 generated classes. With Spark's default
    # codegen cache of 100 entries every pass evicts the classes of the
    # one before and recompiles about 165 of them.
    _run(spark, "curate_corpus.codegen.first")
    before = _compilations(spark)
    _run(spark, "curate_corpus.codegen.second")
    assert _compilations(spark) - before == 0
