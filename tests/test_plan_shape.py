"""Physical-plan shape audits — the scale story, checked in CI.

Asserts properties of `.explain()` output that matter at 100 TB:
- column pruning reaches the parquet scan (ReadSchema carries only what
  the plan needs);
- exactly ONE Python boundary (stage-1 ArrowEvalPython, an Arrow
  iterator UDF running the whole per-turn kernel); the JVM side only
  projects its struct fields, with no lambda functions;
- pure-expression operators (textstats) have NO exchange and NO Python
  nodes at all;
- an Arrow-UDF dedup kernel is evaluated once per plan, not once per
  consumer, and no dedup plan holds a pandas eval type;
- the flagship plan is MAP-ONLY — zero exchanges; salting adds exactly
  one;
- every registered query's executed plan stays within its ``PLAN_BOUNDS``
  row: no CartesianProduct, a BroadcastNestedLoopJoin only onto a 1-row
  broadcast side, no Window without a partition, and per-query bounds on
  exchanges, Python nodes, SinglePartition and TakeOrderedAndProject;
- AQE splits a skewed join under the session ``build_session`` builds.
"""

import re
from typing import Iterator

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.operators import dedup as D
from keras_ocr_spark.operators import textstats as TS
from keras_ocr_spark.plans.pipeline import extract


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def n_nodes(plan: str, name: str) -> int:
    """Count physical nodes by their detail headers — the formatted
    explain prints each node twice (tree + '(k) Name' detail)."""
    return len(re.findall(rf"\(\d+\) {name}\b", plan))


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    from keras_ocr_spark.sources.transcripts import generate_pandas

    p = str(tmp_path_factory.mktemp("plan") / "t.parquet")
    spark.createDataFrame(
        generate_pandas(n_convs=5, make_skewed=False),
        schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    ).write.parquet(p)
    return p


class TestFlagshipPlan:
    def test_column_pruning_reaches_scan(self, spark, transcripts_path):
        df = extract(spark.read.parquet(transcripts_path))
        plan = plan_of(df)
        m = re.search(r"ReadSchema: (\S+)", plan)
        assert m, plan
        read_schema = m.group(1)
        assert "text" in read_schema and "conv_id" in read_schema
        # role/tool/ts must NOT be read — 3 of 6 columns pruned at the scan.
        assert "role" not in read_schema and "tool" not in read_schema and "ts" not in read_schema

    def test_single_python_boundary(self, spark, transcripts_path):
        from pyspark.util import PythonEvalType

        df = extract(spark.read.parquet(transcripts_path))
        plan = plan_of(df)
        assert n_nodes(plan, "ArrowEvalPython") == 1  # stage 1 only
        assert "BatchEvalPython" not in plan  # no row-at-a-time Python
        # ...and it runs an Arrow iterator UDF, not a pandas one.
        eval_types = re.findall(r"\(\d+\) ArrowEvalPython\nInput \[\d+\]: .*\nArguments: .*, (\d+)\n", plan)
        assert eval_types == [str(PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF)], plan

    def test_no_lambda_functions(self, spark, transcripts_path):
        # Blank drop and reassembly run in the stage-1 kernel; the JVM
        # side only projects the UDF's struct fields (no filter /
        # transform / array_join lambdas, which do not codegen).
        plan = plan_of(extract(spark.read.parquet(transcripts_path)))
        assert "lambdafunction" not in plan
        for fn in ("filter(", "transform(", "array_join("):
            assert fn not in plan, fn

    def test_default_plan_is_map_only(self, spark, transcripts_path):
        # The plan has NO shuffle: each turn is extracted whole in one
        # kernel call, so re-association is per-row.
        df = extract(spark.read.parquet(transcripts_path))  # n_salt=0
        plan = plan_of(df)
        assert n_nodes(plan, "Exchange") == 0

    def test_salting_adds_exactly_one_exchange(self, spark, transcripts_path):
        df = extract(spark.read.parquet(transcripts_path), n_salt=8)
        plan = plan_of(df)
        assert n_nodes(plan, "Exchange") == 1

    def test_wholestage_codegen_covers_scan_and_projection(self, spark, transcripts_path):
        # The JVM side of the plan (scan, output projection) is
        # whole-stage codegen'd; the kernel runs in the stage-1 UDF. Codegen-
        # mode explain lists the fused subtrees (AQE hides them
        # pre-execution, so toggle it off just for the inspection).
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            df = extract(spark.read.parquet(transcripts_path))
            cg = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
        finally:
            spark.conf.set("spark.sql.adaptive.enabled", "true")
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", cg)
        assert m and int(m.group(1)) >= 1, cg[:500]


class TestExpressionOperatorsStayJvmSide:
    @pytest.fixture(scope="class")
    def docs(self, spark, tmp_path_factory):
        # Parquet-backed (a createDataFrame source would put
        # 'applySchemaToPythonRDD' in the scan node and trip the
        # no-Python assertion for the wrong reason).
        p = str(tmp_path_factory.mktemp("docs") / "docs.parquet")
        spark.createDataFrame(
            [(i, f"word{i} alpha beta gamma delta") for i in range(10)], "doc_id int, text string"
        ).write.parquet(p)
        return spark.read.parquet(p)

    @pytest.mark.parametrize(
        "build",
        [
            lambda d: TS.lang_scores(d),
            lambda d: TS.quality_scores(d),
            lambda d: TS.token_counts(d),
            lambda d: TS.fingerprints(d),
        ],
        ids=["lang", "quality", "tokens", "fingerprint"],
    )
    def test_no_python_no_shuffle(self, docs, build):
        plan = plan_of(build(docs))
        assert "Python" not in plan  # pure JVM expressions
        assert "Exchange" not in plan  # map-only: scan -> project


class TestSinglePandasUdfEvaluation:
    """Regression pins for the r3 double-evaluation waste: a Python-UDF
    projection filtered on its OWN output gets its null-filter pushed
    below an upstream exchange by Catalyst, duplicating the
    ArrowEvalPython node (observed python=2 for minhash). The operators
    now avoid it structurally, and their kernels are Arrow UDFs."""

    @pytest.fixture(scope="class")
    def docs(self, spark, tmp_path_factory):
        p = str(tmp_path_factory.mktemp("udfdocs") / "docs.parquet")
        spark.createDataFrame(
            [(i, f"word{i} alpha beta gamma delta epsilon") for i in range(20)],
            "doc_id int, text string",
        ).write.parquet(p)
        return spark.read.parquet(p)

    def test_minhash_signatures_single_arrow_node_under_repartition(self, spark, docs):
        # The registered query repartitions before signing (_docs());
        # reproduce that shape and assert exactly ONE Arrow boundary.
        df = D.minhash_signatures(docs.repartition(8))
        plan = plan_of(df)
        assert n_nodes(plan, "ArrowEvalPython") == 1, plan
        # Filter must act on the raw input, not the UDF output.
        assert "BatchEvalPython" not in plan

    def test_minhash_precondition_matches_kernel_nulls(self, spark, docs):
        # The input-side precondition (non-null text, >= k words) must
        # exclude exactly the rows the kernel would map to NULL.
        edge = docs.union(
            spark.createDataFrame(
                [(100, None), (101, "two words"), (102, "a b c")], "doc_id int, text string"
            )
        )
        out = D.minhash_signatures(edge, k=3)
        ids = {r.id for r in out.select("id").collect()}
        assert 100 not in ids and 101 not in ids  # null / too short dropped
        assert 102 in ids and 0 in ids
        assert out.filter(F.col("signature").isNull()).count() == 0

    def test_kernel_runs_once_per_document_in_minhash_dedup_pairs(self, spark, docs, monkeypatch):
        # The band projection and both verification join sides read one
        # checkpointed kernel evaluation; the kernel here counts the
        # documents it sees through an accumulator.
        seen = spark.sparkContext.accumulator(0)
        real = D._doc_udf

        def counting(k, n_hashes):
            kernel = real(k, n_hashes).func

            @F.arrow_udf(D.DOC_TYPE)
            def _doc(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
                for out in kernel(batches):
                    seen.add(len(out))
                    yield out

            return _doc

        monkeypatch.setattr(D, "_doc_udf", counting)
        pairs = D.minhash_dedup_pairs(docs.repartition(8), threshold=0.5)
        assert pairs.count() > 0
        assert seen.value == docs.count()

    def test_dedup_plans_hold_only_arrow_eval_types(self, spark, docs):
        # Every Python boundary of the dedup kernels is an Arrow
        # iterator UDF, not a pandas one (the stage-1 check above).
        from pyspark.util import PythonEvalType

        arrow_iter = str(PythonEvalType.SQL_SCALAR_ARROW_ITER_UDF)
        builds = {
            "minhash_dedup_pairs": (D.minhash_dedup_pairs(docs, threshold=0.5), 0),
            "doc_kernel": (D._doc_frame(docs, "doc_id", "text", 3, 16), 1),
            "shingle_docs_arrow": (D.shingle_docs_arrow(docs), 1),
            "substring_dup_stats": (D.substring_dup_stats(docs, k=5), 2),
            "simhash_fingerprints": (D.simhash_fingerprints(docs), 1),
        }
        for name, (df, n_python) in builds.items():
            plan = plan_of(df)
            eval_types = re.findall(r"\(\d+\) ArrowEvalPython\nInput \[\d+\]: .*\nArguments: .*, (\d+)\n", plan)
            assert eval_types == [arrow_iter] * n_python, (name, plan)
            assert "BatchEvalPython" not in plan, name

    def test_incremental_dedup_evaluates_four_kernels(self, spark, docs):
        # Per side, one hashing kernel for the bands and one
        # shingle-only kernel for its verification join side; the
        # exploded-shingle verification evaluated each side's shingle
        # kernel twice (6 nodes).
        df = docs.repartition(8)
        out = D.incremental_dedup_pairs(df.filter(F.col("doc_id") % 10 == 0), df.filter(F.col("doc_id") % 10 != 0))
        assert n_nodes(plan_of(out), "ArrowEvalPython") == 4

class TestFilterPushdown:
    def test_predicate_reaches_parquet(self, spark, transcripts_path):
        df = spark.read.parquet(transcripts_path).filter(F.col("role") == "user").select("conv_id")
        plan = plan_of(df)
        assert "PushedFilters: [IsNotNull(role), EqualTo(role,user)]" in plan


#: Every query's plan holds no CartesianProduct, no
#: BroadcastNestedLoopJoin and no Window without a partition (one task
#: would sort all its rows); ``PLAN_BOUNDS`` adds to or overrides these.
DEFAULT_BOUNDS = {"cartesian": ("==", 0), "bnlj": ("==", 0), "unpartitioned_windows": ("==", 0)}

#: query -> {feature: (op, value)}, op "==" or "<=", over the counts of
#: ``plan_features``. Each bnlj bound is a 1-row broadcast side (a totals
#: or stats frame attached to the rows it scales) and is set at its
#: measured count.
PLAN_BOUNDS = {
    # map-only flagship: one stage-1 Arrow UDF, no shuffle
    "extract_documents": {"exchanges": ("==", 0), "python_nodes": ("==", 1)},
    # signatures computed map-side once, one band exchange
    "dedup_minhash_lsh": {"python_nodes": ("==", 1)},
    # the new batch's band index is broadcast: no corpus-vs-corpus pairing
    "dedup_incremental": {},
    # end-to-end curation: equi-joins and aggregates only
    "curate_corpus": {"single_partition": ("==", 0)},
    # distributed prefix sum; its range splits are one lazy
    # percentile_approx subquery, whose global sketch merge is the one
    # Exchange SinglePartition, printed once per branch that reads it
    "pack_sequences": {"single_partition": ("==", 2)},
    # per-row array algebra, zero Python, one final-aggregate exchange
    "gopher_repetition": {"exchanges": ("<=", 1), "python_nodes": ("==", 0)},
    # eval vocabulary broadcast join plus one groupBy
    "contamination_check": {"python_nodes": ("==", 0)},
    # fingerprints come from a lazy localCheckpoint: no Python in the join plan
    "simhash_near_pairs": {"python_nodes": ("==", 0)},
    # one gram-digest kernel and one span kernel
    "dedup_substring": {"python_nodes": ("==", 2)},
    # running sums on (lang, md5-prefix bucket): the hot language spreads
    "token_budget_mix": {"single_partition": ("==", 0), "python_nodes": ("==", 0)},
    # vocabulary size is the 1-row broadcast onto the scoring join
    "bigram_logprob": {"python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    # the shingle kernel now runs at build time, in _rarity_coded_docs'
    # collect (ADVICE.md), so the plan reads 0; 1 once it moves back in
    "dedup_containment": {"python_nodes": ("<=", 1)},
    # exact rank on (lang, quality-bucket) windows with broadcast offsets
    "quality_percentile_gate": {"single_partition": ("==", 0), "python_nodes": ("==", 0)},
    # (n_a, n_b, V) totals are the 1-row broadcast onto the counts frame;
    # their final scalar aggregate is SinglePartition, so that is not bounded
    "unigram_kl_drift": {"python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    # digest-group-bounded edge build, integer join+agg rounds
    "shingle_pagerank": {"python_nodes": ("==", 0)},
    # (n_t, n_all) totals are the 1-row broadcast onto the term table
    "dsir_importance": {"python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    # corpus size N is the 1-row broadcast onto tf x df; its scalar
    # aggregate is SinglePartition, so that is not bounded
    "tfidf_top_terms": {"python_nodes": ("==", 0), "bnlj": ("<=", 1)},
    # one map pass and TakeOrderedAndProject: no global sort, no Python
    "weighted_sample": {"exchanges": ("<=", 1), "take_ordered": ("==", 1), "python_nodes": ("==", 0)},
    # corpus stats (N, avgdl, dfs) are the 1-row broadcast onto the scores
    "bm25_search": {"bnlj": ("<=", 1)},
    # string min/max as grouping-free 1-row aggregates, so the
    # multi-distinct aggregate stays hash-based
    "profile_drift_documents": {"bnlj": ("<=", 2)},
    # the grand total is the 1-row broadcast onto the frequency table
    "unigram_logprob": {"bnlj": ("<=", 1)},
}


def plan_nodes(node):
    """Every node of a physical plan, subquery plans included; an
    ``AdaptiveSparkPlan`` is walked through its initial plan."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    yield node
    for seq in (node.children(), node.subqueries()):
        for i in range(seq.size()):
            yield from plan_nodes(seq.apply(i))


def plan_features(df) -> dict[str, int]:
    """Substring counts over ``executedPlan().toString()`` ("Exchange"
    also counts broadcast and reused exchanges), and the ``Window``
    nodes of that plan whose ``partitionSpec`` is empty."""
    executed = df._jdf.queryExecution().executedPlan()
    plan = executed.toString()
    return {
        "exchanges": plan.count("Exchange"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        "python_nodes": plan.count("EvalPython"),
        "single_partition": plan.count("SinglePartition"),
        "take_ordered": plan.count("TakeOrderedAndProject"),
        "unpartitioned_windows": sum(
            1
            for n in plan_nodes(executed)
            if n.nodeName() == "Window" and n.partitionSpec().isEmpty()
        ),
    }


class TestQueryPlanBounds:
    def test_every_query_plan_within_bounds(self, spark):
        from keras_ocr_spark.driver_queries import QUERIES

        assert set(PLAN_BOUNDS) <= set(QUERIES)
        bad = []
        for name, (fn, _sql) in QUERIES.items():
            got = plan_features(fn(spark, "/root/testdata/sf0.001"))
            for feature, (op, want) in {**DEFAULT_BOUNDS, **PLAN_BOUNDS.get(name, {})}.items():
                if not (got[feature] == want if op == "==" else got[feature] <= want):
                    bad.append((name, f"{feature}={got[feature]}, want {op} {want}"))
        assert not bad, bad


class TestAqeSkewJoin:
    def test_skewed_join_is_split_by_aqe(self, spark, tmp_path):
        """The north rule's runtime skew remedy: a join where 90% of the
        probe side shares one key must show skew=true (split partitions)
        in the FINAL adaptive plan. Skew handling itself is what
        ``build_session`` turns on; only the thresholds are scaled down to
        fire at test size."""
        # Runtime-settable AQE thresholds on the shared session; restored after.
        knobs = {
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in knobs}
        for k, v in knobs.items():
            spark.conf.set(k, v)
        try:
            left = spark.range(200000).select(
                F.when(F.col("id") % 10 < 9, F.lit(7)).otherwise(F.col("id") % 1000).alias("k"),
                F.md5(F.col("id").cast("string")).alias("payload"),
            )
            right = spark.range(1000).select(
                F.col("id").alias("k"), F.md5((F.col("id") + 5).cast("string")).alias("dim")
            )
            j = left.join(right, "k").select(F.count("*").alias("n"), F.sum(F.crc32("payload")).alias("c"))
            row = j.collect()[0]  # executing THIS DataFrame finalizes ITS adaptive plan
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert row["n"] == 200000
            assert "isFinalPlan=true" in plan
            assert "skew=true" in plan
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
