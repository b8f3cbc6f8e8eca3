"""check_expectations: the operator has no registered caller, so these
tests are its only contract. They pin the strict NULL-as-violation
semantics, the empty-input guard, the one-scan/no-Expand plan, and rule
validation."""

import pytest

from keras_ocr_spark.operators.expectations import check_expectations


@pytest.fixture(scope="module")
def frame(spark):
    rows = [
        (1, 10.0, "a"),
        (2, 60.0, "b"),   # violates "v le 50"
        (3, None, "c"),   # NULL predicate -> violation (strict gate)
        (4, 50.0, None),  # NULL label -> violates "label present"
    ]
    return spark.createDataFrame(rows, "id long, v double, label string")


RULES = [
    ("id positive", "id > 0"),
    ("v le 50", "v <= 50"),
    ("label present", "label IS NOT NULL"),
]


class TestCheckExpectations:
    def test_counts_and_null_semantics(self, spark, frame):
        got = {r.rule_name: r for r in check_expectations(frame, RULES).collect()}
        assert got["id positive"].n_violations == 0
        assert got["id positive"].passed == 1
        # 60.0 fails outright; NULL v cannot prove the contract.
        assert got["v le 50"].n_violations == 2
        assert got["v le 50"].passed == 0
        assert got["label present"].n_violations == 1
        assert all(r.n_rows == 4 for r in got.values())
        assert got["v le 50"].violation_ppm == 2 * 1_000_000 // 4

    def test_declaration_order_via_rule_idx(self, spark, frame):
        rows = check_expectations(frame, RULES).orderBy("rule_idx").collect()
        assert [r.rule_name for r in rows] == [n for n, _ in RULES]
        assert [r.rule_idx for r in rows] == [0, 1, 2]

    def test_empty_input_reports_zero_ppm(self, spark, frame):
        got = check_expectations(frame.filter("id < 0"), RULES).collect()
        assert len(got) == 3
        assert all(r.n_rows == 0 and r.violation_ppm == 0 and r.passed == 1 for r in got)

    def test_one_scan_no_expand(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        out = check_expectations(df, [("a", "l_quantity <= 30"), ("b", "l_tax <= 0.05")])
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1
        assert "Expand" not in plan  # plain conditional sums, no distinct-aggs
        assert "CartesianProduct" not in plan

    def test_validation(self, spark, frame):
        with pytest.raises(ValueError):
            check_expectations(frame, [])
        with pytest.raises(ValueError):
            check_expectations(frame, [("x", "id > 0"), ("x", "id > 1")])
        with pytest.raises(ValueError):
            check_expectations(frame, [("bad'name", "id > 0")])
