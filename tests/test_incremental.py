"""Incremental aggregate-state maintenance: the fold theorem
``merge(state(A), state(B)) == state(A UNION ALL B)`` and its edges.

The operator has no registered caller, so these tests are its only
contract: arbitrary split points, disjoint-key pass-through,
associativity across three shards, and partitioning-invariance of the
int64 cents sum.
"""

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.operators import incremental as INC

KEYS = ["grp"]


@pytest.fixture(scope="module")
def frame(spark):
    # 600 rows, 3 groups, prices with 2-decimal structure plus a value
    # whose double repr is inexact (x.x5 cents edge).
    return spark.range(0, 600).select(
        (F.col("id") % 3).cast("int").alias("grp"),
        (F.col("id").cast("double") * 1.01 + 0.05).alias("price"),
        F.col("id").alias("seq"),
    )


def _rows(df):
    return {tuple(r) for r in df.collect()}


class TestFoldTheorem:
    @pytest.mark.parametrize("split", [1, 17, 300, 599])
    def test_merge_equals_recompute_at_any_split(self, spark, frame, split):
        a = frame.filter(F.col("seq") < split)
        b = frame.filter(F.col("seq") >= split)
        folded = INC.merge_agg_state(
            INC.agg_state(a, KEYS, "price"), INC.agg_state(b, KEYS, "price"), KEYS
        )
        flat = INC.agg_state(frame, KEYS, "price")
        assert _rows(INC.finalize_state(folded, KEYS)) == _rows(
            INC.finalize_state(flat, KEYS)
        )

    def test_disjoint_keys_pass_through(self, spark, frame):
        a = frame.filter(F.col("grp") == 0)
        b = frame.filter(F.col("grp") == 2)
        folded = INC.merge_agg_state(
            INC.agg_state(a, KEYS, "price"), INC.agg_state(b, KEYS, "price"), KEYS
        )
        assert _rows(INC.finalize_state(folded, KEYS)) == _rows(
            INC.finalize_state(INC.agg_state(a.unionByName(b), KEYS, "price"), KEYS)
        )

    def test_associative_across_three_shards(self, spark, frame):
        s = [
            INC.agg_state(frame.filter(F.col("seq") % 3 == i), KEYS, "price")
            for i in range(3)
        ]
        left = INC.merge_agg_state(INC.merge_agg_state(s[0], s[1], KEYS), s[2], KEYS)
        right = INC.merge_agg_state(s[0], INC.merge_agg_state(s[1], s[2], KEYS), KEYS)
        assert _rows(INC.finalize_state(left, KEYS)) == _rows(
            INC.finalize_state(right, KEYS)
        )

    def test_sum_invariant_under_repartitioning(self, spark, frame):
        one = INC.agg_state(frame.coalesce(1), KEYS, "price")
        many = INC.agg_state(frame.repartition(13, "seq"), KEYS, "price")
        assert _rows(one) == _rows(many)

    def test_state_size_is_keys_not_rows(self, spark, frame):
        assert INC.agg_state(frame, KEYS, "price").count() == 3
