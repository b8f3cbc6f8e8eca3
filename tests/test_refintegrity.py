"""referential_audit on clean TPC-H edges and planted orphans. These pin the
NULL-FK-is-not-an-orphan convention, the duplicate-dim-key guard, and
the broadcast plan on small dims."""

import pytest

from keras_ocr_spark.operators.refintegrity import FkEdge, referential_audit


@pytest.fixture(scope="module")
def tables(spark):
    fact = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], "fk long"
    )
    dim = spark.createDataFrame([(1,), (2,), (2,), (3,)], "k long")  # dup key 2!
    return fact, dim


class TestReferentialAudit:
    def test_counts_null_and_orphan_semantics(self, spark, tables):
        fact, dim = tables
        row = referential_audit([FkEdge("e", fact, "fk", dim, "k")]).collect()[0]
        assert row.n_rows == 5
        assert row.n_null_fk == 1          # NULL fk is not an orphan
        assert row.n_orphans == 1          # only fk=99
        assert row.orphan_ppm == 1 * 1_000_000 // 4
        assert row.passed == 0

    def test_duplicate_dim_keys_do_not_inflate(self, spark, tables):
        # dim key 2 appears twice; without DISTINCT the left join would
        # duplicate the fk=2 row and n_rows would read 6.
        fact, dim = tables
        row = referential_audit([FkEdge("e", fact, "fk", dim, "k")]).collect()[0]
        assert row.n_rows == 5

    def test_edge_order_and_passing_edge(self, spark, tables):
        fact, dim = tables
        clean = spark.createDataFrame([(1,), (2,)], "fk long")
        rows = referential_audit(
            [
                FkEdge("dirty", fact, "fk", dim, "k"),
                FkEdge("clean", clean, "fk", dim, "k"),
            ]
        ).orderBy("edge_idx").collect()
        assert [r.edge_name for r in rows] == ["dirty", "clean"]
        assert rows[1].n_orphans == 0 and rows[1].passed == 1

    def test_small_dim_broadcasts(self, spark):
        fact = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        dim = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        out = referential_audit(
            [FkEdge("e", fact, "l_orderkey", dim, "o_orderkey")]
        )
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan
        assert "CartesianProduct" not in plan

    def test_validation(self, spark, tables):
        fact, dim = tables
        with pytest.raises(ValueError):
            referential_audit([])
        with pytest.raises(ValueError):
            referential_audit(
                [FkEdge("x", fact, "fk", dim, "k"), FkEdge("x", fact, "fk", dim, "k")]
            )
