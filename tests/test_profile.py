"""Data profiling: the registered query that calls ``profile_table`` is
``profile_drift_documents`` (through ``profile_drift``, on three
``documents`` columns). These pin null handling, dtype rendering for
types that query doesn't cover, and the one-scan plan."""

import datetime as dt

import pytest

from keras_ocr_spark.operators.profile import profile_table


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, "a", 1.005, dt.datetime(2024, 1, 1, 12, 0, 0), dt.date(2024, 1, 1)),
        (2, None, 2.0, None, dt.date(2024, 2, 2)),
        (2, "b", None, dt.datetime(2024, 3, 1), None),
        (None, "b", 0.004, dt.datetime(2024, 1, 1), dt.date(2024, 1, 1)),
    ]
    return spark.createDataFrame(
        rows, "i long, s string, d double, ts timestamp, dt date"
    )


class TestProfile:
    def test_null_and_distinct_counts(self, spark, frame):
        out = {r.col_name: r for r in profile_table(frame).collect()}
        assert all(r.n_rows == 4 for r in out.values())
        assert out["i"].n_null == 1 and out["i"].n_distinct == 2
        assert out["s"].n_null == 1 and out["s"].n_distinct == 2
        assert out["d"].n_null == 1 and out["d"].n_distinct == 3

    def test_dtype_renderers(self, spark, frame):
        out = {r.col_name: r for r in profile_table(frame).collect()}
        assert (out["i"].min_repr, out["i"].max_repr) == ("1", "2")
        assert (out["s"].min_repr, out["s"].max_repr) == ("a", "b")
        # doubles render as floor-rounded cents: 0.004 -> 0, 2.0 -> 200
        assert (out["d"].min_repr, out["d"].max_repr) == ("0", "200")
        assert out["ts"].min_repr == str(
            int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
        )
        assert (out["dt"].min_repr, out["dt"].max_repr) == ("2024-01-01", "2024-02-02")

    def test_scan_and_aggregate_shape(self, spark, frame, tmp_path):
        # The row-volume aggregate (counts + exact distincts through
        # Expand) runs off ONE scan and stays HASH-based; string
        # min/max ride a second, string-columns-only pruned scan with a
        # sortless grouping-free aggregate (a SortAggregate there would
        # mean the string buffer leaked back into the Expand aggregate,
        # re-sorting (1 + n_cols) x n_rows rows — the r6 regression
        # this pins against).
        p = str(tmp_path / "t")
        frame.write.parquet(p)
        plan = (
            profile_table(spark.read.parquet(p))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") == 2  # main + pruned string scan
        assert "Expand" in plan  # the documented multi-distinct cost
        # no physical Sort anywhere: the Expand aggregate is hash-based
        # and the string aggregate is grouping-free (a grouping-free
        # SortAggregate node sorts nothing and is fine)
        assert "Sort [" not in plan
        assert "HashAggregate" in plan

    def test_single_scan_when_no_string_columns(self, spark, tmp_path):
        # Without string columns there is no split: one scan, hash aggs.
        p = str(tmp_path / "t2")
        spark.range(100).selectExpr("id", "id * 2 AS v").write.parquet(p)
        plan = (
            profile_table(spark.read.parquet(p))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Scan parquet") == 1
        assert "Sort [" not in plan

    def test_unknown_column_rejected(self, spark, frame):
        with pytest.raises(ValueError):
            profile_table(frame, ["nope"])


class TestApproxDistinct:
    def test_no_expand_and_bounded_error(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        from keras_ocr_spark.operators.profile import profile_table

        cols = ["o_orderkey", "o_orderpriority", "o_totalprice"]
        exact = {r.col_name: r for r in profile_table(df, cols).collect()}
        approx_df = profile_table(df, cols, approx_distinct=True)
        plan = approx_df._jdf.queryExecution().executedPlan().toString()
        assert "Expand" not in plan  # the HLL swap's whole point
        assert plan.count("Exchange") <= 2  # partial agg -> single row
        for r in approx_df.collect():
            e = exact[r.col_name].n_distinct
            # HLL++ default rsd is 5%; allow 3x slack for small cards.
            assert abs(r.n_distinct - e) <= max(3, 0.15 * e), (r.col_name, r.n_distinct, e)
            # nulls and min/max stay exact in the approx profile
            assert r.n_null == exact[r.col_name].n_null
            assert r.min_repr == exact[r.col_name].min_repr
            assert r.max_repr == exact[r.col_name].max_repr


class TestProfileDrift:
    def test_drift_arms(self, spark):
        from keras_ocr_spark.operators.profile import profile_drift

        old = spark.createDataFrame(
            [(1, "en", 5.0), (2, "de", 7.0), (3, "en", 9.0), (4, None, 2.0)],
            "id long, lang string, v double",
        )
        new = spark.createDataFrame(
            [(1, None, 5.0), (2, "de", 7.0), (5, "fr", 99.0)],
            "id long, lang string, v double",
        )
        got = {r.col_name: r for r in profile_drift(old, new).collect()}
        # id: 4 -> 3 rows, cardinality 4 -> 3, max moved 4 -> 5
        assert got["id"].n_rows_old == 4 and got["id"].n_rows_new == 3
        assert got["id"].distinct_ratio_x100 == 3 * 100 // 4
        assert got["id"].minmax_changed == 1
        # lang: null rate 1/4 -> 1/3
        assert got["lang"].null_ppm_old == 1_000_000 // 4
        assert got["lang"].null_ppm_new == 1_000_000 // 3
        assert got["lang"].null_ppm_delta == got["lang"].null_ppm_new - got["lang"].null_ppm_old
        # v: bounds moved (max 9.0 -> 99.0)
        assert got["v"].minmax_changed == 1

    def test_identical_snapshots_report_no_drift(self, spark):
        from keras_ocr_spark.operators.profile import profile_drift

        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        for r in profile_drift(df, df).collect():
            assert r.null_ppm_delta == 0
            assert r.distinct_ratio_x100 == 100
            assert r.minmax_changed == 0

    def test_all_null_column_compares_null_safely(self, spark):
        from keras_ocr_spark.operators.profile import profile_drift

        old = spark.createDataFrame([(1, None), (2, None)], "id long, s string")
        got = {r.col_name: r for r in profile_drift(old, old).collect()}
        # min/max of an all-NULL column are NULL on both sides -> unchanged.
        assert got["s"].minmax_changed == 0
        assert got["s"].distinct_ratio_x100 == 0  # old distinct 0 -> guarded div
