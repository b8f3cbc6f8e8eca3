"""Count-Min sketch properties.

The cross-engine VALUE contract of Count-Min is attested by the driver
oracle (`cms_heavy_hitters` — every cell reproduces bit-for-bit in
DuckDB).  These tests pin the
sketch-theoretic guarantees the oracle can't express: error bounds,
overestimate-only behavior, and bounded sketch size.
"""

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.operators import sketches as SK


@pytest.fixture(scope="module")
def corpus(spark):
    # 'hot' appears 500 times; w0..w199 appear 1-8 times each.
    rows = [(0, " ".join(["hot"] * 500))]
    rows += [(i + 1, " ".join(f"w{j}" for j in range(200) if j % (i + 1) == 0)) for i in range(8)]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestCMS:
    def test_never_undercounts_and_finds_planted_hitter(self, spark, corpus):
        tok = corpus.select(F.explode(F.split("text", " ")).alias("word"))
        truth = {r.word: r.n for r in tok.groupBy("word").agg(F.count("*").alias("n")).collect()}
        top = SK.cms_heavy_hitters(corpus, "text", d=4, w=256, top_n=5).collect()
        assert top[0].word == "hot" and top[0].cms_count >= 500
        est = SK.cms_estimate(
            tok.distinct(), SK.cms_sketch(tok, "word"), "word"
        ).collect()
        for r in est:
            assert r.cms_count >= truth[r.word]  # CMS never undercounts

    def test_sketch_size_bounded_by_d_times_w(self, spark, corpus):
        tok = corpus.select(F.explode(F.split("text", " ")).alias("word"))
        assert SK.cms_sketch(tok, "word", d=3, w=64).count() <= 3 * 64

    def test_probe_plan_broadcasts_the_sketch(self, spark, corpus):
        plan = (
            SK.cms_heavy_hitters(corpus, "text")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan

    def test_validation(self, spark, corpus):
        tok = corpus.select(F.explode(F.split("text", " ")).alias("word"))
        with pytest.raises(ValueError):
            SK.cms_sketch(tok, "word", d=0)
