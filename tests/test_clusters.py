"""Duplicate-cluster resolution tests: large-star/small-star connected
components (operators/clusters.py) — planted chains, random graphs vs a
union-find reference, singleton handling, and the per-iteration plan
audit (no cartesian)."""

import random

import pytest

from keras_ocr_spark.operators.clusters import (
    connected_components,
    large_star,
    resolve_duplicates,
    small_star,
)


def _uf_components(pairs):
    """Plain union-find reference (driver-side, test-only)."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {p for pr in pairs for p in pr}
    groups = {}
    for x in nodes:
        groups.setdefault(find(x), set()).add(x)
    out = {}
    for mem in groups.values():
        m = min(mem)
        for x in mem:
            out[x] = m
    return out


def _pairs_df(spark, pairs):
    return spark.createDataFrame(pairs, "id_a long, id_b long")


def _random_pair_sets():
    """The random graphs of test_matches_union_find_on_random_graphs."""
    random.seed(11)
    out = []
    for _ in range(2):
        ids = list(range(0, 300, 3))
        pairs = [(random.choice(ids), random.choice(ids)) for _ in range(120)]
        out.append([(a, b) for a, b in pairs if a != b])
    return out


class TestConnectedComponents:
    def test_planted_three_chain(self, spark):
        # a~b and b~c must yield ONE cluster even though (a,c) was
        # never a candidate pair — the verdict's convergence golden.
        got = {r.id: r.component for r in connected_components(_pairs_df(spark, [(1, 2), (2, 3)])).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_long_chain_converges_logarithmically(self, spark):
        # A 100-edge path needs ~100 rounds of naive min-propagation;
        # star alternation must close it inside the 25-round backstop.
        pairs = [(i, i + 1) for i in range(100)]
        got = {r.id: r.component for r in connected_components(_pairs_df(spark, pairs)).collect()}
        assert len(got) == 101 and set(got.values()) == {0}

    def test_matches_union_find_on_random_graphs(self, spark):
        random.seed(11)
        for _ in range(2):
            ids = list(range(0, 300, 3))
            pairs = [(random.choice(ids), random.choice(ids)) for _ in range(120)]
            pairs = [(a, b) for a, b in pairs if a != b]
            got = {r.id: r.component for r in connected_components(_pairs_df(spark, pairs)).collect()}
            assert got == _uf_components(pairs)

    def test_string_ids(self, spark):
        df = spark.createDataFrame([("b", "c"), ("a", "b")], "id_a string, id_b string")
        got = {r.id: r.component for r in connected_components(df).collect()}
        assert got == {"a": "a", "b": "a", "c": "a"}

    def test_star_steps_are_equijoins_only(self, spark):
        # Each star step is one exchange on u plus a window — a
        # cartesian/BNLJ here would be quadratic in the edge set.
        edges = _pairs_df(spark, [(1, 2), (2, 3), (4, 5)]).selectExpr("id_a as u", "id_b as v")
        for step in (large_star, small_star):
            plan = step(edges)._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


class TestResolveDuplicates:
    def test_keepers_sizes_and_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
        pairs = _pairs_df(spark, [(1, 2), (2, 3), (7, 8)])
        rows = {r.id: (r.keeper_id, r.cluster_size, r.is_keeper) for r in resolve_duplicates(docs, pairs).collect()}
        assert rows[1] == (1, 3, True) and rows[2] == (1, 3, False) and rows[3] == (1, 3, False)
        assert rows[7] == (7, 2, True) and rows[8] == (7, 2, False)
        assert rows[0] == (0, 1, True) and rows[5] == (5, 1, True)
        # keeper filter drops exactly the duplicates
        assert sum(1 for k, _, keep in rows.values() if keep) == 7

    def test_empty_pairs_all_singletons(self, spark):
        docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
        empty = spark.createDataFrame([], "id_a long, id_b long")
        rows = resolve_duplicates(docs, empty).collect()
        assert len(rows) == 6 and all(r.is_keeper and r.cluster_size == 1 for r in rows)

    def test_nonconvergence_backstop_raises(self, spark):
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(_pairs_df(spark, [(i, i + 1) for i in range(40)]), max_iterations=1)


class TestBestKeeper:
    def test_highest_quality_wins(self, spark):
        from pyspark.sql import functions as F

        from keras_ocr_spark.operators.clusters import best_keeper, resolve_duplicates

        docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
        resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
        quality = spark.createDataFrame(
            [(1, 0.2), (2, 0.9), (3, 0.5), (4, 0.1), (5, 0.1)], "id long, quality double"
        )
        out = {r["id"]: r for r in best_keeper(resolved, quality).collect()}
        # cluster {1,2,3}: label stays min id 1, best member is 2.
        for i in (1, 2, 3):
            assert out[i]["keeper_id"] == 1 and out[i]["best_id"] == 2
        assert out[2]["is_best"] and not out[1]["is_best"]
        # singletons elect themselves.
        assert out[4]["best_id"] == 4 and out[4]["is_best"]

    def test_tie_breaks_to_lowest_id(self, spark):
        from keras_ocr_spark.operators.clusters import best_keeper, resolve_duplicates

        docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
        quality = spark.createDataFrame([(1, 0.5), (2, 0.5)], "id long, quality double")
        out = {r["id"]: r for r in best_keeper(resolved, quality).collect()}
        assert out[1]["best_id"] == 1 and out[2]["best_id"] == 1

    def test_missing_priority_rows_are_lowest_not_dropped(self, spark):
        """r3 ADVICE: a document (or whole cluster) absent from the
        priority frame must still appear in the output — missing scores
        rank below every scored member, and an all-missing cluster
        falls back to the lowest id."""
        from keras_ocr_spark.operators.clusters import best_keeper, resolve_duplicates

        docs = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2), (4, 5)], "id_a long, id_b long")
        resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
        # doc 2 scored higher than 1; cluster {4,5} and singletons 3, 6
        # entirely MISSING from the priority frame.
        quality = spark.createDataFrame([(1, 0.2), (2, 0.9)], "id long, quality double")
        out = {r["id"]: r for r in best_keeper(resolved, quality).collect()}
        assert set(out) == {1, 2, 3, 4, 5, 6}  # every input row present
        assert out[1]["best_id"] == 2 and out[2]["is_best"]
        # all-missing cluster: lowest id elected deterministically
        assert out[4]["best_id"] == 4 and out[5]["best_id"] == 4
        assert out[3]["best_id"] == 3 and out[3]["is_best"]
        assert out[6]["best_id"] == 6 and out[6]["is_best"]

    def test_scored_vs_missing_mix_in_one_cluster(self, spark):
        from keras_ocr_spark.operators.clusters import best_keeper, resolve_duplicates

        docs = spark.createDataFrame([(1,), (2,)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
        # id 1 missing, id 2 scored LOW: any score beats missing.
        quality = spark.createDataFrame([(2, 0.01)], "id long, quality double")
        out = {r["id"]: r for r in best_keeper(resolved, quality).collect()}
        assert out[1]["best_id"] == 2 and out[2]["best_id"] == 2


class TestLeakageSafeSplit:
    def test_cluster_members_never_straddle(self, spark):
        from keras_ocr_spark.operators.clusters import leakage_safe_split

        docs = spark.createDataFrame([(i,) for i in range(1, 41)], "doc_id long")
        # chains {1..4}, {10,11}, rest singletons
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
        )
        out = leakage_safe_split(docs, pairs, id_col="doc_id").collect()
        by_id = {r.id: r for r in out}
        assert len(by_id) == 40  # every doc split exactly once
        for cluster in ([1, 2, 3, 4], [10, 11]):
            sides = {by_id[i].split for i in cluster}
            assert len(sides) == 1, cluster  # whole cluster on one side
        assert {r.split for r in out} == {"train", "test"}  # both sides used

    def test_split_is_deterministic_function_of_keeper(self, spark):
        import hashlib

        from keras_ocr_spark.operators.clusters import leakage_safe_split

        docs = spark.createDataFrame([(i,) for i in range(1, 21)], "doc_id long")
        pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        out = {r.id: r for r in leakage_safe_split(docs, pairs, id_col="doc_id").collect()}
        for i, r in out.items():
            want = "test" if hashlib.md5(str(r.keeper_id).encode()).hexdigest()[0] in "0123" else "train"
            assert r.split == want, (i, r)

    def test_direct_split_matches_resolve_duplicates_form(self, spark):
        from pyspark.sql import functions as F

        from keras_ocr_spark.operators.clusters import leakage_safe_split

        docs = spark.createDataFrame([(i,) for i in range(300)], "doc_id long")
        for pairs in _random_pair_sets():
            pairs_df = _pairs_df(spark, pairs)
            split = leakage_safe_split(docs, pairs_df, id_col="doc_id")
            got = {tuple(r) for r in split.select("id", "keeper_id", "split").collect()}
            resolved = resolve_duplicates(docs, pairs_df, id_col="doc_id")
            is_test = F.substring(F.md5(F.col("keeper_id").cast("string")), 1, 1).isin("0", "1", "2", "3")
            want = {
                tuple(r)
                for r in resolved.select(
                    "id", "keeper_id", F.when(is_test, "test").otherwise("train")
                ).collect()
            }
            assert got == want
            plan = split._jdf.queryExecution().executedPlan().toString()
            keyed = [ln for ln in plan.splitlines() if "Aggregate" in ln and "keeper_id" in ln]
            assert not keyed, keyed
