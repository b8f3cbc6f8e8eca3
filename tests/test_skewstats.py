"""skew_report: the pre-join diagnostic next to salted_join. These pin
the arithmetic against a planted-skew Python reference, the tie-break,
the ceil-division salt factor, and the plan shape (ONE counts exchange
shared via ReuseExchange, TakeOrderedAndProject, no cartesian)."""

import math

import pytest

from keras_ocr_spark.operators.skewjoin import skew_report


@pytest.fixture(scope="module")
def skewed(spark):
    # key 7 is hot (1000 rows), key 3 and 5 tie at 40, the rest small.
    rows = (
        [(7,)] * 1000
        + [(3,)] * 40
        + [(5,)] * 40
        + [(k,) for k in range(20, 40) for _ in range(10)]
    )
    return spark.createDataFrame(rows, "k long").repartition(8)


class TestSkewReport:
    def test_matches_python_reference(self, spark, skewed):
        target = 64
        got = {r.key_repr: r for r in skew_report(skewed, "k", target, top_k=3).collect()}
        n_rows = 1000 + 80 + 200
        n_keys = 23
        avg = n_rows // n_keys
        hot = got["7"]
        assert hot.rank == 1
        assert hot.key_rows == 1000
        assert hot.share_ppm == 1000 * 1_000_000 // n_rows
        assert hot.n_rows == n_rows and hot.n_keys == n_keys
        assert hot.avg_rows_per_key == avg
        assert hot.skew_x100 == 1000 * 100 // avg
        assert hot.salt_factor == math.ceil(1000 / target) == 16

    def test_tie_breaks_by_key_ascending(self, spark, skewed):
        rows = skew_report(skewed, "k", top_k=3).collect()
        assert [r.key_repr for r in rows] == ["7", "3", "5"]
        assert [r.rank for r in rows] == [1, 2, 3]

    def test_salt_factor_floor_is_one(self, spark, skewed):
        # Huge target: every key fits one task; ceil-div still reports 1.
        rows = skew_report(skewed, "k", target_rows_per_task=10**9).collect()
        assert all(r.salt_factor == 1 for r in rows)

    def test_top_k_bounds_output(self, spark, skewed):
        assert skew_report(skewed, "k", top_k=2).count() == 2
        # More slots than keys: every key reported, no padding.
        assert skew_report(skewed, "k", top_k=1000).count() == 23

    def test_plan_counts_exchange_shared(self, spark, skewed):
        df = skew_report(skewed, "k", top_k=3)
        df.collect()  # AQE finalizes stage reuse only after execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert plan.count("ReusedExchange") >= 1, plan
        assert "TakeOrderedAndProject" in plan
        assert "CartesianProduct" not in plan
        # the ONE 1-row-totals BNLJ; AQE's final-plan string repeats the
        # materialized stage subtree, so the same join can print twice.
        assert 1 <= plan.count("BroadcastNestedLoopJoin") <= 2

    def test_validation(self, spark, skewed):
        with pytest.raises(ValueError):
            skew_report(skewed, "k", top_k=0)
        with pytest.raises(ValueError):
            skew_report(skewed, "k", target_rows_per_task=0)
