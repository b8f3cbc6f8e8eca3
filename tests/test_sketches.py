"""Mergeable-sketch properties: Count-Min (frequency), Bloom and HDR.

The cross-engine VALUE contract of Count-Min is attested by the driver
oracle (`cms_heavy_hitters` — every cell reproduces bit-for-bit in
DuckDB).  These tests pin the
sketch-theoretic guarantees the oracle can't express: error bounds,
mergeability, overestimate-only behavior, and bounded sketch size.
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

    def test_shard_sketches_add(self, spark, corpus):
        tok = corpus.select(F.explode(F.split("text", " ")).alias("word"))
        sa = SK.cms_sketch(corpus.filter("doc_id < 4").select(F.explode(F.split("text", " ")).alias("word")), "word")
        sb = SK.cms_sketch(corpus.filter("doc_id >= 4").select(F.explode(F.split("text", " ")).alias("word")), "word")
        merged = {(r.row, r.bucket): r.cnt for r in SK.cms_merge(sa, sb).collect()}
        full = {(r.row, r.bucket): r.cnt for r in SK.cms_sketch(tok, "word").collect()}
        assert merged == full

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


@pytest.fixture(scope="module")
def member_values(spark):
    return spark.range(0, 400).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("v")
    )


class TestBloom:
    def test_no_false_negatives_ever(self, spark, member_values):
        bloom = SK.bloom_build(member_values, "v", k=4, m_bits=4096)
        out = SK.bloom_probe(member_values, bloom, "v", k=4, m_bits=4096)
        assert out.filter(F.col("bloom_maybe") == 0).count() == 0

    def test_definitely_absent_is_honest_and_fp_rate_bounded(self, spark, member_values):
        bloom = SK.bloom_build(member_values, "v", k=4, m_bits=4096)
        absent = spark.range(400, 1400).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("v")
        )
        fp = SK.bloom_probe(absent, bloom, "v", k=4, m_bits=4096).filter(
            F.col("bloom_maybe") == 1
        ).count()
        # n=400, m=4096, k=4 -> p_set ~ 1-e^-0.39 ~ 0.32, fp ~ 0.011;
        # generous bound: < 5% of 1000 absent probes.
        assert 0 <= fp < 50

    def test_filter_size_bounded_and_words_dense(self, spark, member_values):
        bloom = SK.bloom_build(member_values, "v", k=4, m_bits=4096)
        assert bloom.count() <= 128
        words = SK.bloom_collect(bloom, 4096)
        assert len(words) == 128
        assert all(0 <= w < (1 << 32) for w in words)  # 32 bits/word, no sign edge

    def test_expr_probe_equals_join_probe(self, spark, member_values):
        bloom = SK.bloom_build(member_values, "v", k=4, m_bits=4096)
        words = SK.bloom_collect(bloom, 4096)
        probe = spark.range(0, 900).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("v")
        )
        a = SK.bloom_probe(probe, bloom, "v", k=4, m_bits=4096)
        b = SK.with_bloom_maybe(probe, words, "v", k=4, m_bits=4096).withColumnRenamed(
            "bloom_maybe", "m2"
        )
        assert a.join(b, "v").filter(F.col("bloom_maybe") != F.col("m2")).count() == 0

    def test_merge_equals_filter_of_union(self, spark, member_values):
        a = member_values.filter(F.expr("CAST(substring(v, 2) AS INT) < 250"))
        b = member_values.filter(F.expr("CAST(substring(v, 2) AS INT) >= 150"))  # overlap
        merged = SK.bloom_merge(
            SK.bloom_build(a, "v", k=4, m_bits=4096),
            SK.bloom_build(b, "v", k=4, m_bits=4096),
        )
        union = SK.bloom_build(member_values, "v", k=4, m_bits=4096)
        assert {(r.word_idx, r.bits) for r in merged.collect()} == {
            (r.word_idx, r.bits) for r in union.collect()
        }

    def test_matches_python_reference_bit_for_bit(self, spark, member_values):
        import hashlib

        words = SK.bloom_collect(SK.bloom_build(member_values, "v", k=4, m_bits=4096), 4096)
        ref = [0] * 128
        for i in range(400):
            h = int(hashlib.md5(f"k{i}".encode()).hexdigest()[:13], 16)
            for j in range(4):
                p = (h >> (12 * j)) % 4096
                ref[p >> 5] |= 1 << (p & 31)
        assert words == ref

    def test_expr_probe_plan_is_shuffle_free(self, spark, member_values):
        words = SK.bloom_collect(SK.bloom_build(member_values, "v", k=4, m_bits=4096), 4096)
        probe = spark.range(0, 100).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("v")
        )
        plan = SK.with_bloom_maybe(probe, words, "v", k=4, m_bits=4096)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "Join" not in plan

    def test_validation(self, spark, member_values):
        with pytest.raises(ValueError):
            SK.bloom_build(member_values, "v", k=0)
        with pytest.raises(ValueError):
            SK.bloom_build(member_values, "v", k=4, m_bits=1000)  # not a power of two
        with pytest.raises(ValueError):
            SK.bloom_build(member_values, "v", k=5, m_bits=4096)  # 5*12 > 52
        with pytest.raises(ValueError):
            SK.with_bloom_maybe(member_values, [0] * 10, "v")  # wrong word count


@pytest.fixture(scope="module")
def amounts(spark):
    # Deterministic positive values spanning several octaves (0.07 ..
    # ~9000) plus a spike of identical small values; two groups.
    rows = []
    for i in range(3000):
        v = ((i * 37) % 900000) / 100.0 + 0.07
        rows.append(("a" if i % 3 else "b", v))
    rows += [("a", 0.25)] * 50  # cents=25 < 32: exact small-bucket path
    return spark.createDataFrame(rows, "grp string, v double")


class TestHDR:
    def _exact(self, df, grp, pm):
        vals = sorted(
            int(round(r.v * 100)) for r in df.filter(F.col("grp") == grp).collect()
        )
        rank = (len(vals) * pm + 999) // 1000
        return vals[rank - 1]

    def test_quantile_relative_error_bounded(self, spark, amounts):
        hist = SK.hdr_histogram(amounts, ["grp"], "v")
        out = {r.grp: r for r in SK.hdr_quantiles(hist, ["grp"]).collect()}
        for grp in ("a", "b"):
            for pm, col in ((500, "p500_cents_lb"), (900, "p900_cents_lb"), (990, "p990_cents_lb")):
                exact = self._exact(amounts, grp, pm)
                lb = out[grp][col]
                # lb <= exact < lb * (1 + 2^-4): the bucket's own width.
                assert lb <= exact <= lb + (lb >> 4) + 1

    def test_small_values_are_exact(self, spark, amounts):
        small = amounts.filter(F.col("v") < 0.31)  # cents < 31 < 32
        hist = SK.hdr_histogram(small, ["grp"], "v")
        out = SK.hdr_quantiles(hist, ["grp"], (500,)).collect()[0]
        assert out.p500_cents_lb == self._exact(small, out.grp, 500)

    def test_merge_equals_flat_build(self, spark, amounts):
        flat = SK.hdr_histogram(amounts, ["grp"], "v")
        a = SK.hdr_histogram(amounts.filter(F.col("v") < 1000), ["grp"], "v")
        b = SK.hdr_histogram(amounts.filter(F.col("v") >= 1000), ["grp"], "v")
        merged = SK.hdr_merge(a, b, ["grp"])
        key = lambda r: (r.grp, r.bucket)
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, flat.collect()))

    def test_repartition_invariance(self, spark, amounts):
        h1 = SK.hdr_quantiles(SK.hdr_histogram(amounts, ["grp"], "v"), ["grp"]).collect()
        h2 = SK.hdr_quantiles(
            SK.hdr_histogram(amounts.repartition(13), ["grp"], "v"), ["grp"]
        ).collect()
        assert sorted(map(tuple, h1)) == sorted(map(tuple, h2))

    def test_state_bounded_per_group(self, spark, amounts):
        # 63 octaves * 16 sub-buckets + 32 small ids is the hard ceiling;
        # this corpus spans ~20 octaves.
        hist = SK.hdr_histogram(amounts, ["grp"], "v")
        per_group = hist.groupBy("grp").count().collect()
        assert all(r["count"] <= 16 * 63 + 32 for r in per_group)

    def test_bucket_lb_inverts_bucket(self, spark):
        # Round-trip every representable magnitude: lb(bucket(x)) <= x
        # and bucket(lb) == bucket (lb is a member of its own bucket).
        vals = [0, 1, 5, 31, 32, 33, 100, 999, 12345, 10**6, 10**9, 10**12]
        df = spark.createDataFrame([(v / 100.0,) for v in vals], "v double").withColumn(
            "grp", F.lit("g")
        )
        hist = SK.hdr_histogram(df, ["grp"], "v")
        got = {
            r.bucket
            for r in hist.select("bucket").collect()
        }
        lb_rows = (
            hist.select(F.col("bucket").alias("bucket"))
            .select("bucket", SK._hdr_lb(4).alias("lb"))
            .collect()
        )
        for r in lb_rows:
            redf = spark.createDataFrame([(r.lb / 100.0,)], "v double").withColumn(
                "grp", F.lit("g")
            )
            rb = SK.hdr_histogram(redf, ["grp"], "v").collect()[0].bucket
            assert rb == r.bucket

    def test_validation(self, spark, amounts):
        with pytest.raises(ValueError):
            SK.hdr_histogram(amounts, ["grp"], "v", sub_bits=0)
        with pytest.raises(ValueError):
            SK.hdr_quantiles(SK.hdr_histogram(amounts, ["grp"], "v"), ["grp"], (0,))
