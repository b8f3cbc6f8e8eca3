"""ols_moments. These pin the closed form against numpy.polyfit on planted
data, NULL exclusion, the constant-x degenerate, the merge theorem,
and the one-exchange plan."""

import numpy as np
import pytest

from keras_ocr_spark.operators.regression import merge_moments, ols_moments


@pytest.fixture(scope="module")
def planted(spark):
    # y = 300x + 1500 cents exactly, plus a noisy group
    rows = [("lin", x, (300 * x + 1500) / 100.0) for x in range(10)]
    rows += [("noisy", x, float(v)) for x, v in
             [(0, 5.0), (1, 3.0), (2, 9.0), (3, 4.0), (4, 12.0)]]
    rows += [("flat", 7, float(v)) for v in (1.0, 2.0, 3.0)]  # constant x
    return spark.createDataFrame(rows, "g string, x int, v double")


def _fit(df, g):
    row = {r.g: r for r in df.collect()}[g]
    return row


class TestOlsMoments:
    def test_exact_line_recovered(self, spark, planted):
        m = ols_moments(planted, "g", "x", "floor(v * 100 + 0.5)")
        r = _fit(m, "lin")
        assert r.slope_den != 0
        assert r.slope_num / r.slope_den == pytest.approx(300.0)
        # intercept from the moments: (Σy - slope·Σx) / n
        icept = (r.sum_y - (r.slope_num / r.slope_den) * r.sum_x) / r.n
        assert icept == pytest.approx(1500.0)

    def test_matches_numpy_on_noisy_group(self, spark, planted):
        m = ols_moments(planted, "g", "x", "floor(v * 100 + 0.5)")
        r = _fit(m, "noisy")
        xs = np.array([0, 1, 2, 3, 4], dtype=float)
        ys = np.array([500, 300, 900, 400, 1200], dtype=float)
        slope = np.polyfit(xs, ys, 1)[0]
        assert r.slope_num / r.slope_den == pytest.approx(slope)

    def test_constant_x_flags_zero_denominator(self, spark, planted):
        m = ols_moments(planted, "g", "x", "floor(v * 100 + 0.5)")
        assert _fit(m, "flat").slope_den == 0

    def test_null_rows_excluded(self, spark):
        df = spark.createDataFrame(
            [("g", 1, 2.0), ("g", None, 9.0), ("g", 3, None), ("g", 2, 4.0)],
            "g string, x int, v double",
        )
        r = _fit(ols_moments(df, "g", "x", "floor(v * 100 + 0.5)"), "g")
        assert r.n == 2 and r.sum_x == 3

    def test_merge_theorem(self, spark, planted):
        a = planted.filter("x % 2 = 0")
        b = planted.filter("x % 2 = 1")
        ma = ols_moments(a, "g", "x", "floor(v * 100 + 0.5)")
        mb = ols_moments(b, "g", "x", "floor(v * 100 + 0.5)")
        merged = {r.g: r for r in merge_moments(ma, mb, "g").collect()}
        whole = {r.g: r for r in
                 ols_moments(planted, "g", "x", "floor(v * 100 + 0.5)").collect()}
        assert set(merged) == set(whole)
        for g in whole:
            for c in ("n", "sum_x", "sum_y", "sum_xy", "sum_x2", "slope_num", "slope_den"):
                assert getattr(merged[g], c) == getattr(whole[g], c), (g, c)

    def test_one_exchange_no_python(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        out = ols_moments(df, "event_type", "extract(hour from ts)", "floor(value*100+0.5)")
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") <= 1
        assert "EvalPython" not in plan and "CartesianProduct" not in plan
        assert "partial_count" in plan or "partial" in plan.lower()
