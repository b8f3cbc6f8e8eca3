"""mad_outlier_report. These pin the statistics against Python's
statistics.median on planted data (odd/even counts, ties, a wild
outlier), NULL exclusion, the strict-inequality outlier rule, and the
histogram plan shape (one scan of the raw table)."""

import statistics

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.operators.robust import mad_outlier_report


def _py_report(vals, k=3):
    cents = [round(v * 100) for v in vals]
    med = statistics.median(cents)
    devs = [abs(c - med) for c in cents]
    mad = statistics.median(devs)
    return {
        "n_rows": len(vals),
        "med_cents_x2": int(med * 2),
        "mad_cents_x4": int(mad * 4),
        "n_outliers": sum(1 for d in devs if d > k * mad),
    }


GROUPS = {
    "odd_outlier": [1.00, 2.00, 2.50, 3.00, 100.00],
    "even_clean": [10.0, 12.0, 14.0, 16.0],
    "ties": [5.0, 5.0, 5.0, 5.0, 9.0],
    "two": [1.0, 2.0],
    "one": [7.77],
}


class TestMadOutlierReport:
    def test_matches_python_reference(self, spark):
        rows = [(g, v) for g, vs in GROUPS.items() for v in vs]
        df = spark.createDataFrame(rows, "g string, v double")
        got = {r.g: r for r in mad_outlier_report(df, "g", "v").collect()}
        for g, vs in GROUPS.items():
            want = _py_report(vs)
            have = got[g]
            assert have.n_rows == want["n_rows"], g
            assert have.med_cents_x2 == want["med_cents_x2"], g
            assert have.mad_cents_x4 == want["mad_cents_x4"], g
            assert have.n_outliers == want["n_outliers"], g

    def test_null_values_excluded(self, spark):
        df = spark.createDataFrame(
            [("g", 1.0), ("g", None), ("g", 3.0)], "g string, v double"
        )
        row = mad_outlier_report(df, "g", "v").collect()[0]
        assert row.n_rows == 2
        assert row.med_cents_x2 == 100 + 300

    def test_all_equal_group_has_zero_mad_and_no_outliers(self, spark):
        # dev == 0 for every row; the STRICT > rule must not flag them.
        df = spark.createDataFrame([("g", 4.0)] * 10, "g string, v double")
        row = mad_outlier_report(df, "g", "v").collect()[0]
        assert row.mad_cents_x4 == 0 and row.n_outliers == 0

    def test_one_scan_of_raw_table(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = mad_outlier_report(df, "event_type", "value")
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        # Histogram reuse: everything after the first count shuffle runs
        # on the (group, cents) frame; the raw scan stage is shared.
        assert plan.count("ReusedExchange") >= 1 or plan.count("Scan parquet") == 1
        assert "CartesianProduct" not in plan

    def test_validation(self, spark):
        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        with pytest.raises(ValueError):
            mad_outlier_report(df, "g", "v", k=0)


class TestPercentileBounds:
    def test_nearest_rank_vs_python(self, spark):
        import math

        from keras_ocr_spark.operators.robust import percentile_bounds

        vals = [float(v) for v in range(1, 201)]  # 1.0 .. 200.0
        df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        row = percentile_bounds(df, "g", "v", 100, 900).collect()[0]
        cents = sorted(round(v * 100) for v in vals)
        n = len(cents)
        lo = cents[math.ceil(100 * n / 1000) - 1]
        hi = cents[math.ceil(900 * n / 1000) - 1]
        assert (row.lo_cents, row.hi_cents) == (lo, hi)
        assert row.n_below == sum(1 for c in cents if c < lo)
        assert row.n_above == sum(1 for c in cents if c > hi)

    def test_winsorize_clips_to_bounds(self, spark):
        from keras_ocr_spark.operators.robust import percentile_bounds, winsorize

        vals = [1.0] + [10.0] * 98 + [1000.0]
        df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
        b = percentile_bounds(df, "g", "v", 50, 950).collect()[0]
        out = winsorize(df, "g", "v", 50, 950)
        stats = out.agg(
            {"cents_winsorized": "min"}
        ).collect()[0][0], out.agg({"cents_winsorized": "max"}).collect()[0][0]
        assert stats == (b.lo_cents, b.hi_cents)
        assert out.count() == 100  # every row kept, extremes clipped

    def test_validation(self, spark):
        from keras_ocr_spark.operators.robust import percentile_bounds

        df = spark.createDataFrame([("g", 1.0)], "g string, v double")
        import pytest as _pt

        with _pt.raises(ValueError):
            percentile_bounds(df, "g", "v", 990, 10)
        with _pt.raises(ValueError):
            percentile_bounds(df, "g", "v", 0, 990)
