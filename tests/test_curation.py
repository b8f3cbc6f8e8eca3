"""Curation operators: repetition stats, contamination, PII scrub,
stratified sampling, sequence packing, inverted index."""

import itertools
import math
import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from keras_ocr_spark.operators import curation as C
from keras_ocr_spark.operators import packing as P
from keras_ocr_spark.operators.retrieval import inverted_index, tfidf_top_terms
from test_plan_shape import plan_features


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestRepetitionStats:
    def test_known_values(self, spark):
        df = _docs(
            spark,
            [
                (1, "a b c d"),  # no repetition
                (2, "a a a a"),  # all one word
                (3, "x y x y x y"),  # looped bigram
                (4, "w"),  # single word: no bigrams
            ],
        )
        got = {r["id"]: r for r in C.repetition_stats(df).collect()}
        assert got[1]["dup_word_frac"] == 0.0
        assert got[1]["max_word_run"] == 1
        assert not got[1]["rep_flagged"]
        assert got[2]["dup_word_frac"] == 0.75
        assert got[2]["max_word_run"] == 4
        assert got[2]["rep_flagged"]
        # "x y x y x y": bigrams = [xy, yx, xy, yx, xy] -> top 3/5
        assert got[3]["top_bigram_frac"] == pytest.approx(0.6)
        assert got[3]["rep_flagged"]
        assert got[4]["top_bigram_frac"] == 0.0
        assert got[4]["max_word_run"] == 1

    def test_max_run_matches_python(self, spark):
        rng = random.Random(7)
        rows = []
        for i in range(60):
            words = [rng.choice("ab") for _ in range(rng.randint(1, 30))]
            rows.append((i, " ".join(words)))
        got = {r["id"]: r["max_word_run"] for r in C.repetition_stats(_docs(spark, rows)).collect()}
        for i, text in rows:
            best = run = 0
            prev = None
            for w in text.split(" "):
                run = run + 1 if w == prev else 1
                best = max(best, run)
                prev = w
            assert got[i] == best, (i, text)


class TestContamination:
    def test_overlap_counts(self, spark):
        train = _docs(
            spark,
            [
                (1, "the quick brown fox jumps"),  # shares "the quick brown"
                (2, "totally unrelated words here now"),
            ],
        )
        ev = _docs(spark, [(100, "the quick brown cat")])
        got = {r["id"]: r for r in C.contamination_pairs(train, ev, k=3).collect()}
        assert got[1]["n_hit"] == 1 and got[1]["n_shingles"] == 3
        assert got[1]["contamination"] == pytest.approx(1 / 3, abs=1e-6)
        assert got[2]["n_hit"] == 0

    def test_short_docs_excluded(self, spark):
        train = _docs(spark, [(1, "too short")])
        ev = _docs(spark, [(2, "a b c")])
        assert C.contamination_pairs(train, ev).count() == 0


class TestPiiScrub:
    def test_redaction(self, spark):
        df = _docs(
            spark,
            [(1, "mail bob.smith+x@corp.example.org or 415-555-1234 twice 415-555-9999")],
        )
        r = C.pii_scrub(df).collect()[0]
        assert r["n_emails"] == 1 and r["n_phones"] == 2
        assert "<EMAIL>" in r["scrubbed"] and r["scrubbed"].count("<PHONE>") == 2
        assert "@" not in r["scrubbed"] and "415" not in r["scrubbed"]

    def test_clean_doc_untouched(self, spark):
        df = _docs(spark, [(1, "no pii at all")])
        r = C.pii_scrub(df).collect()[0]
        assert r["n_emails"] == 0 and r["n_phones"] == 0
        assert r["scrubbed"] == "no pii at all"


class TestStratifiedSample:
    def test_exact_quota_per_stratum(self, spark):
        rows = [(i, "en" if i % 3 else "de") for i in range(100)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        out = C.stratified_sample(df, "lang", 0.25)
        by = {r[0]: r[1] for r in out.groupBy("stratum").count().collect()}
        n_de = sum(1 for _, l in rows if l == "de")
        n_en = len(rows) - n_de
        assert by["de"] == math.ceil(0.25 * n_de)
        assert by["en"] == math.ceil(0.25 * n_en)

    def test_deterministic(self, spark):
        rows = [(i, "s") for i in range(50)]
        df = spark.createDataFrame(rows, "doc_id long, lang string")
        a = sorted(r["id"] for r in C.stratified_sample(df, "lang", 0.1).collect())
        b = sorted(r["id"] for r in C.stratified_sample(df, "lang", 0.1).collect())
        assert a == b and len(a) == 5


class TestPacking:
    def _toks(self, spark, vals):
        return spark.createDataFrame(list(enumerate(vals)), "id long, n_tokens long")

    def test_cumsum_matches_window(self, spark):
        rng = random.Random(3)
        vals = [rng.randint(0, 40) for _ in range(300)]
        df = self._toks(spark, vals)
        got = P.with_global_cumsum(df, "n_tokens", ["id"], "cs", n_range_buckets=7)
        naive = df.withColumn(
            "cs",
            F.sum("n_tokens").over(W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        a = {r["id"]: r["cs"] for r in got.collect()}
        b = {r["id"]: r["cs"] for r in naive.collect()}
        assert a == b
        # a leading key with ties (5 values over 300 rows, shuffled so
        # input order is not id order) under a two-column order: ties
        # share a range bucket, the second key orders within it
        rows = [(i, rng.randint(0, 4), v) for i, v in enumerate(vals)]
        rng.shuffle(rows)
        tied = spark.createDataFrame(rows, "id long, val int, n_tokens long")
        got = P.with_global_cumsum(tied, "n_tokens", ["val", "id"], "cs", n_range_buckets=7)
        naive = tied.withColumn(
            "cs",
            F.sum("n_tokens").over(W.orderBy("val", "id").rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        a = {r["id"]: r["cs"] for r in got.collect()}
        b = {r["id"]: r["cs"] for r in naive.collect()}
        assert a == b
        # negative values: a bucket's total is not its largest running sum
        signed = self._toks(spark, [v - 25 for v in vals])
        got = P.with_global_cumsum(signed, "n_tokens", ["id"], "cs", n_range_buckets=7)
        naive = signed.withColumn(
            "cs",
            F.sum("n_tokens").over(W.orderBy("id").rowsBetween(W.unboundedPreceding, W.currentRow)),
        )
        a = {r["id"]: r["cs"] for r in got.collect()}
        b = {r["id"]: r["cs"] for r in naive.collect()}
        assert a == b

    def test_nondeterministic_input_consistent(self, spark):
        """A nondeterministic value column is accepted: the totals and
        the local sums come from one exchange, so every row's cs is the
        running sum of the values the output itself carries."""
        noisy = spark.range(500).withColumn("n_tokens", (F.rand() * 60 - 20).cast("long"))
        out = sorted(P.with_global_cumsum(noisy, "n_tokens", ["id"], "cs", n_range_buckets=7).collect())
        assert [r["cs"] for r in out] == list(itertools.accumulate(r["n_tokens"] for r in out))
        # nested nondeterminism (below a filter) too
        nested = (
            spark.range(500)
            .withColumn("n_tokens", (F.rand() * 60).cast("long"))
            .filter("n_tokens > 10")
        )
        out = sorted(P.with_global_cumsum(nested, "n_tokens", ["id"], "cs", n_range_buckets=7).collect())
        assert all(r["n_tokens"] > 10 for r in out)
        assert [r["cs"] for r in out] == list(itertools.accumulate(r["n_tokens"] for r in out))

    def test_chunk_layout(self, spark):
        # capacity 10; docs of 4,4,4 tokens: third doc straddles chunk 0/1
        df = self._toks(spark, [4, 4, 4])
        got = {r["id"]: r for r in P.pack_chunks(df, "n_tokens", ["id"], 10).collect()}
        assert (got[0]["chunk_first"], got[0]["chunk_last"], got[0]["offset_in_chunk"]) == (0, 0, 0)
        assert (got[1]["chunk_first"], got[1]["chunk_last"], got[1]["offset_in_chunk"]) == (0, 0, 4)
        assert (got[2]["chunk_first"], got[2]["chunk_last"], got[2]["offset_in_chunk"]) == (0, 1, 8)

    def test_zero_token_doc(self, spark):
        df = self._toks(spark, [10, 0, 5])
        got = {r["id"]: r for r in P.pack_chunks(df, "n_tokens", ["id"], 10).collect()}
        assert got[1]["chunk_first"] == got[1]["chunk_last"] == 1
        assert got[1]["offset_in_chunk"] == 0

    def test_empty_input(self, spark):
        df = self._toks(spark, [])
        assert P.pack_chunks(df, "n_tokens", ["id"], 8).count() == 0

    def test_no_single_partition_window(self, spark):
        df = self._toks(spark, [1, 2, 3])
        assert plan_features(P.pack_chunks(df, "n_tokens", ["id"], 8))["unpartitioned_windows"] == 0


class TestInvertedIndex:
    def test_postings(self, spark):
        df = _docs(spark, [(1, "a b a"), (2, "b c"), (3, "c b")])
        got = {r["term"]: r for r in inverted_index(df).collect()}
        assert got["a"]["postings"] == [1] and got["a"]["df"] == 1
        assert got["b"]["postings"] == [1, 2, 3] and got["b"]["df"] == 3
        assert got["c"]["postings"] == [2, 3]


class TestTfidfTopTerms:
    def test_scores_and_ranks(self, spark):
        df = spark.createDataFrame(
            [(0, "cat cat dog"), (1, "dog fish"), (2, "fish fish fish")],
            "doc_id long, text string",
        )
        out = {(r.id, r.term): (r.score, r.rk) for r in tfidf_top_terms(df, k=2).collect()}

        def s(tf, df_):
            return math.floor(tf * math.log(4.0 / (df_ + 1.0)) * 1e6 + 0.5)

        # doc 0: cat tf=2 df=1, dog tf=1 df=2 -> cat ranks 1
        assert out[(0, "cat")] == (s(2, 1), 1)
        assert out[(0, "dog")] == (s(1, 2), 2)
        # doc 1: dog and fish both tf=1 df=2 -> tie cut by term ASC
        assert out[(1, "dog")][1] == 1 and out[(1, "fish")][1] == 2
        # doc 2: only one distinct term -> a single row, k=2 notwithstanding
        assert out[(2, "fish")] == (s(3, 2), 1)
        assert len([k for k in out if k[0] == 2]) == 1

    def test_k_validation(self, spark):
        df = spark.createDataFrame([(0, "a")], "doc_id long, text string")
        with pytest.raises(ValueError):
            tfidf_top_terms(df, k=0)


class TestChunkDocuments:
    def test_short_doc_one_chunk(self, spark):
        df = _docs(spark, [(1, "a b c")])
        got = C.chunk_documents(df, chunk_tokens=32, overlap=8).collect()
        assert len(got) == 1
        assert got[0]["chunk_text"] == "a b c" and got[0]["n_tokens"] == 3

    def test_overlap_layout(self, spark):
        words = [f"w{i}" for i in range(10)]
        df = _docs(spark, [(1, " ".join(words))])
        got = sorted(
            C.chunk_documents(df, chunk_tokens=4, overlap=2).collect(),
            key=lambda r: r["chunk_idx"],
        )
        # stride 2: starts 0,2,4,6 -> 4 chunks; last covers w6..w9
        assert [r["chunk_idx"] for r in got] == [0, 1, 2, 3]
        assert got[0]["chunk_text"] == "w0 w1 w2 w3"
        assert got[1]["chunk_text"] == "w2 w3 w4 w5"
        assert got[3]["chunk_text"] == "w6 w7 w8 w9"
        assert all(r["n_tokens"] == 4 for r in got)

    def test_exact_multiple_no_empty_tail(self, spark):
        # n == chunk: exactly one chunk, no empty follow-on
        df = _docs(spark, [(1, " ".join(f"w{i}" for i in range(4)))])
        got = C.chunk_documents(df, chunk_tokens=4, overlap=2).collect()
        assert len(got) == 1

    def test_every_word_covered(self, spark):
        rng = random.Random(11)
        rows = [(i, " ".join(rng.choice("abc") for _ in range(rng.randint(1, 50)))) for i in range(40)]
        df = _docs(spark, rows)
        got = C.chunk_documents(df, chunk_tokens=8, overlap=3)
        per_doc = {}
        for r in got.collect():
            per_doc.setdefault(r["id"], []).append(r)
        for i, text in rows:
            words = text.split(" ")
            chunks = sorted(per_doc[i], key=lambda r: r["chunk_idx"])
            rebuilt = []
            for c in chunks:
                cw = c["chunk_text"].split(" ")
                assert len(cw) == c["n_tokens"]
                rebuilt.extend(cw[3:] if c["chunk_idx"] > 0 else cw)
            # overlap-stripped concatenation reconstructs the doc... unless a
            # tail chunk is shorter than the overlap (then it only re-covers)
            assert rebuilt[: len(words)] == words

    def test_overlap_validation(self, spark):
        df = _docs(spark, [(1, "a b")])
        with pytest.raises(ValueError):
            C.chunk_documents(df, chunk_tokens=4, overlap=4)


class TestIncrementalDedup:
    def test_cross_batch_collision_only(self, spark):
        from keras_ocr_spark.operators.dedup import incremental_dedup_pairs

        base = "spark merges the sorted runs into one partitioned table scan"
        corpus = _docs(
            spark,
            [
                (1, base),
                (2, base + " with extra tail words"),  # near-dup of 1 (in-corpus)
                (3, "completely different content about streaming joins here"),
            ],
        )
        new = _docs(spark, [(10, base), (11, "unrelated brand new document text words")])
        got = incremental_dedup_pairs(new, corpus, threshold=0.5)
        rows = {(r["new_id"], r["corpus_id"]) for r in got.collect()}
        # new doc 10 collides with corpus 1 (identical) and 2 (near);
        # the in-corpus near-pair (1,2) must NOT appear.
        assert (10, 1) in rows
        assert all(nid == 10 for nid, _ in rows)

    def test_plan_broadcast_no_cartesian(self, spark):
        from keras_ocr_spark.operators.dedup import incremental_dedup_pairs

        corpus = _docs(spark, [(i, f"w{i} x y z a b c") for i in range(20)])
        new = _docs(spark, [(100, "w1 x y z a b c")])
        plan = (
            incremental_dedup_pairs(new, corpus)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan
        assert "BroadcastHashJoin" in plan


class TestMergeUpsert:
    def test_update_insert_carryover(self, spark):
        from keras_ocr_spark.operators.merge import merge_upsert

        target = spark.createDataFrame(
            [(1, "old a"), (2, "old b")], "id long, text string"
        )
        source = spark.createDataFrame(
            [(2, "NEW b"), (3, "NEW c")], "id long, text string"
        )
        got = {r["id"]: r["text"] for r in merge_upsert(target, source, ["id"]).collect()}
        assert got == {1: "old a", 2: "NEW b", 3: "NEW c"}

    def test_source_null_value_wins_on_match(self, spark):
        # SCD1: a matched source row replaces the target row even where
        # the source VALUE is null (row presence decides, not value).
        from keras_ocr_spark.operators.merge import merge_upsert

        target = spark.createDataFrame([(1, "keep?")], "id long, text string")
        source = spark.createDataFrame([(1, None)], "id long, text string")
        got = merge_upsert(target, source, ["id"]).collect()
        assert got[0]["text"] is None

    def test_schema_mismatch_raises(self, spark):
        from keras_ocr_spark.operators.merge import merge_upsert

        a = spark.createDataFrame([(1, "x")], "id long, text string")
        b = spark.createDataFrame([(1,)], "id long")
        with pytest.raises(ValueError):
            merge_upsert(a, b, ["id"])


class TestTableDiff:
    def test_statuses(self, spark):
        from keras_ocr_spark.operators.merge import table_diff

        a = spark.createDataFrame(
            [(1, "same"), (2, "old"), (3, "gone")], "id long, text string"
        )
        b = spark.createDataFrame(
            [(1, "same"), (2, "NEW"), (4, "added")], "id long, text string"
        )
        got = {r["id"]: r["status"] for r in table_diff(a, b, ["id"]).collect()}
        assert got == {2: "changed", 3: "only_left", 4: "only_right"}

    def test_null_value_vs_missing_row(self, spark):
        from keras_ocr_spark.operators.merge import table_diff

        a = spark.createDataFrame([(1, None), (2, "x")], "id long, text string")
        b = spark.createDataFrame([(1, None), (2, None)], "id long, text string")
        got = {r["id"]: r["status"] for r in table_diff(a, b, ["id"]).collect()}
        # identical null values are NOT a diff; null vs value is.
        assert got == {2: "changed"}


class TestMergeUpsertNullKeys:
    def test_null_source_key_still_wins(self, spark):
        from keras_ocr_spark.operators.merge import merge_upsert

        target = spark.createDataFrame([(None, "old"), (1, "t1")], "id long, text string")
        source = spark.createDataFrame([(None, "new")], "id long, text string")
        got = {r["id"]: r["text"] for r in merge_upsert(target, source, ["id"]).collect()}
        assert got == {None: "new", 1: "t1"}


class TestTableDiffDigestSafety:
    def test_no_separator_shift_collision(self, spark):
        from keras_ocr_spark.operators.merge import table_diff

        a = spark.createDataFrame([(1, "a\x1fb", "c")], "id long, x string, y string")
        b = spark.createDataFrame([(1, "a", "b\x1fc")], "id long, x string, y string")
        got = [r["status"] for r in table_diff(a, b, ["id"]).collect()]
        assert got == ["changed"]


class TestFrequentNgrams:
    def test_planted_boilerplate_tops_the_list(self, spark):
        docs = spark.createDataFrame(
            [(i, f"unique{i} words here all rights reserved") for i in range(30)]
            + [(100 + i, f"other{i} text body") for i in range(5)],
            "doc_id long, text string",
        )
        got = C.frequent_ngrams(docs, k=3, top_n=5).collect()
        assert got[0]["ngram"] == "all rights reserved" and got[0]["n_docs"] == 30
        # per-doc distinct: a doc repeating a shingle counts once
        rep = spark.createDataFrame([(0, "a b c a b c a b c")], "doc_id long, text string")
        one = {r["ngram"]: r["n_docs"] for r in C.frequent_ngrams(rep, k=3, top_n=10).collect()}
        assert one["a b c"] == 1

    def test_plan_is_one_count_shuffle_take_ordered(self, spark):
        docs = spark.createDataFrame([(0, "a b c d")], "doc_id long, text string")
        plan = C.frequent_ngrams(docs)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Python" not in plan


class TestStripBoilerplateLines:
    def test_hot_lines_removed_order_preserved(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "keep one\nBANNER\nkeep two"),
                (2, "BANNER\nunique second"),
                (3, "third only\nBANNER"),
                (4, "BANNER"),  # fully boilerplate -> survives empty
            ],
            "doc_id long, text string",
        )
        out = {r["id"]: r for r in C.strip_boilerplate_lines(docs, min_doc_freq=3).collect()}
        assert set(out) == {1, 2, 3, 4}  # every doc survives
        assert out[1]["clean_text"] == "keep one\nkeep two"  # order kept
        assert out[2]["clean_text"] == "unique second"
        assert out[4]["clean_text"] == "" and out[4]["n_lines_kept"] == 0

    def test_threshold_boundary(self, spark):
        docs = spark.createDataFrame(
            [(1, "shared\na1"), (2, "shared\na2")], "doc_id long, text string"
        )
        # df=2 < min_doc_freq=3 -> kept
        out = {r["id"]: r["clean_text"] for r in C.strip_boilerplate_lines(docs, 3).collect()}
        assert out[1] == "shared\na1"
        # df=2 >= min_doc_freq=2 -> stripped
        out2 = {r["id"]: r["clean_text"] for r in C.strip_boilerplate_lines(docs, 2).collect()}
        assert out2[1] == "a1" and out2[2] == "a2"


class TestCompressionRatios:
    def test_goldens_and_determinism(self, spark):
        from keras_ocr_spark.operators import textstats as TS

        import hashlib

        hexblob = "".join(hashlib.sha256(str(i).encode()).hexdigest() for i in range(20))
        docs = spark.createDataFrame(
            [
                (1, "spam " * 400),  # pathological repetition
                (2, hexblob),  # high-entropy hex (~0.56 measured)
                (3, None),
            ],
            "doc_id long, text string",
        )
        a = {r["id"]: r for r in TS.compression_ratios(docs).collect()}
        b = {r["id"]: r for r in TS.compression_ratios(docs).collect()}
        assert {k: v["compression_ratio"] for k, v in a.items()} == {
            k: v["compression_ratio"] for k, v in b.items()
        }
        assert a[1]["compression_ratio"] < 0.2  # repetition compresses away
        assert a[2]["compression_ratio"] > 0.5  # entropy does not
        assert a[3]["compression_ratio"] is None and a[3]["n_chars"] is None

    def test_map_only_plan(self, spark):
        from keras_ocr_spark.operators import textstats as TS

        docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = TS.compression_ratios(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert plan.count("ArrowEvalPython") <= 1 and "BatchEvalPython" not in plan


class TestSubstringDedup:
    def test_planted_duplicate_span(self, spark):
        from keras_ocr_spark.operators import dedup as D

        shared = "one two three four five"  # the duplicated 5-gram
        docs = spark.createDataFrame(
            [
                (1, f"alpha beta {shared} gamma"),
                (2, f"delta {shared} epsilon zeta"),
                (3, "entirely unrelated words right here"),
                (4, "tiny doc"),  # < k words: untouched
            ],
            "doc_id long, text string",
        )
        got = {r["id"]: r for r in D.substring_dup_stats(docs, k=5).collect()}
        assert got[1]["dup_words"] == 5 and got[2]["dup_words"] == 5
        assert got[1]["clean_text"] == "alpha beta gamma"
        assert got[2]["clean_text"] == "delta epsilon zeta"
        assert got[3]["dup_words"] == 0 and got[3]["clean_text"] == docs.collect()[2]["text"]
        assert got[4]["dup_words"] == 0 and got[4]["clean_text"] == "tiny doc"
        assert got[1]["dup_frac"] == pytest.approx(5 / 8, abs=1e-6)

    def test_overlapping_spans_union_not_sum(self, spark):
        from keras_ocr_spark.operators import dedup as D

        # six-word shared substring -> two overlapping 5-gram starts;
        # union covers 6 words, not 10
        shared = "a b c d e f"
        docs = spark.createDataFrame(
            [(1, f"x {shared} y"), (2, f"p {shared} q")], "doc_id long, text string"
        )
        got = {r["id"]: r for r in D.substring_dup_stats(docs, k=5).collect()}
        assert got[1]["dup_words"] == 6
        assert got[1]["clean_text"] == "x y"

    def test_within_doc_repeat_counts(self, spark):
        from keras_ocr_spark.operators import dedup as D

        # the same 5-gram twice inside ONE doc is a duplicate too
        docs = spark.createDataFrame(
            [(1, "a b c d e z a b c d e")], "doc_id long, text string"
        )
        r = D.substring_dup_stats(docs, k=5).collect()[0]
        assert r["dup_words"] == 10 and r["clean_text"] == "z"

    def test_span_stats_evaluated_once(self, spark):
        # The struct-valued UDF feeds four output fields; the executed
        # plan must still evaluate it in one Arrow node, once.
        from keras_ocr_spark.operators import dedup as D

        docs = spark.createDataFrame([(1, "a b c d e f"), (2, "x a b c d e")], "doc_id long, text string")
        plan = D.substring_dup_stats(docs, k=5)._jdf.queryExecution().executedPlan().toString()
        nodes = [ln for ln in plan.splitlines() if "ArrowEvalPython" in ln and "_span_stats" in ln]
        assert len(nodes) == 1 and plan.count("_span_stats(") == 1, plan

    def test_arrow_kernel_equals_sql_twin(self, spark, oracle_rows):
        """The Arrow kernel must return EXACTLY the registered
        ``dedup_substring`` oracle SQL's rows on the same input — gram
        digests, span unions, rebuilt text, nulls, multi-space
        round-trips, everything."""
        import random

        from keras_ocr_spark.driver_queries import QUERIES
        from keras_ocr_spark.operators import dedup as D

        rnd = random.Random(17)
        vocab = [f"w{i}" for i in range(30)]
        rows = [(0, None), (1, ""), (2, "one  two   three"), (3, "a b")]
        nid = 4
        for _ in range(40):
            rows.append((nid, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 40)))))
            nid += 1
        # planted substring dups across and within docs
        core = " ".join(rnd.choice(vocab) for _ in range(8))
        rows.append((nid, f"x y {core} z"))
        rows.append((nid + 1, f"{core} tail tail {core}"))
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        fast = sorted(tuple(r) for r in D.substring_dup_stats(docs, k=5).collect())
        want = sorted(oracle_rows(QUERIES["dedup_substring"][1], rows))
        assert fast == want

    def test_other_columns_ride_the_id_exchange(self, spark, oracle_rows):
        """Columns beside the id and the text come out on their row, and
        the stats are still the ``dedup_substring`` oracle's."""
        import random

        from keras_ocr_spark.driver_queries import QUERIES
        from keras_ocr_spark.operators import dedup as D

        rnd = random.Random(23)
        vocab = [f"w{i}" for i in range(12)]
        rows = [(0, None), (1, "a b")]
        rows += [(i, " ".join(rnd.choice(vocab) for _ in range(rnd.randrange(1, 30)))) for i in range(2, 40)]
        extra = {i: (f"l{i % 3}", i * 0.5) for i, _ in rows}
        docs = spark.createDataFrame(
            [(i, t, *extra[i]) for i, t in rows], "doc_id long, text string, lang string, score double"
        )
        out = D.substring_dup_stats(docs, k=5)
        assert out.columns == ["id", "n_words", "dup_words", "dup_frac", "clean_text", "lang", "score"]
        got = out.collect()
        assert {r.id: (r.lang, r.score) for r in got} == extra
        assert sorted(tuple(r)[:5] for r in got) == sorted(oracle_rows(QUERIES["dedup_substring"][1], rows))


class TestCurationFeatures:
    def test_matches_quality_join_tokens(self, spark):
        from keras_ocr_spark.operators import textstats as TS

        docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
        fused = {r.id: (r.quality, r.n_bpe_tokens) for r in TS.curation_features(docs).collect()}
        q = {r.id: r.quality for r in TS.quality_scores(docs).collect()}
        t = {r.id: r.n_bpe_tokens for r in TS.token_counts(docs).collect()}
        assert fused == {i: (q[i], t[i]) for i in q}


class TestTokenBudgetMix:
    def test_budget_respected_and_deterministic(self, spark):
        rows = [(i, "en" if i % 2 else "de", " ".join(["w"] * (5 + i % 7))) for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
        out = C.token_budget_mix(df, {"en": 50}, default_budget=30)
        got = out.collect()
        by_lang = {}
        for r in got:
            by_lang.setdefault(r.lang, []).append(r)
        # inclusive running totals never exceed the lang budget
        assert max(r.cum_tokens for r in by_lang["en"]) <= 50
        assert max(r.cum_tokens for r in by_lang["de"]) <= 30
        # something was actually truncated in both languages
        total_en = sum(5 + i % 7 for i in range(60) if i % 2)
        total_de = sum(5 + i % 7 for i in range(60) if not i % 2)
        assert sum(r.n_tokens for r in by_lang["en"]) < total_en
        assert sum(r.n_tokens for r in by_lang["de"]) < total_de
        # deterministic: same kept set on re-run
        again = {(r.id, r.cum_tokens) for r in C.token_budget_mix(df, {"en": 50}, 30).collect()}
        assert again == {(r.id, r.cum_tokens) for r in got}

    def test_crossing_row_excluded(self, spark):
        # one lang, budget 10, docs of 6 tokens each in md5 order:
        # first fits (6), second crosses (12) -> exactly one kept
        df = spark.createDataFrame(
            [(1, "x", "a b c d e f"), (2, "x", "a b c d e f")],
            "doc_id long, lang string, text string",
        )
        got = C.token_budget_mix(df, {}, default_budget=10).collect()
        assert len(got) == 1 and got[0].cum_tokens == 6

    def test_no_global_order_in_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "x", "a b"), (2, "y", "c d")], "doc_id long, lang string, text string"
        )
        plan = C.token_budget_mix(df, {}, 100)._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" not in plan

    def test_bucketed_cumsum_equals_naive_under_skew(self, spark):
        """The r5 skew-hardened form (md5-prefix range buckets +
        broadcast prefix offsets) must be value-identical to the
        textbook per-language running sum it replaces — checked on a
        0.9-skew corpus (the exact hot-language shape the bucketing
        exists for), across bucket counts including n=1 (degenerate =
        naive)."""
        import hashlib

        rows = [
            (i, "en" if i % 10 else "de", " ".join(["w"] * (3 + i % 11))) for i in range(400)
        ]
        df = spark.createDataFrame(rows, "doc_id long, lang string, text string")

        def naive():
            per_lang = {}
            for i, lang, text in rows:
                per_lang.setdefault(lang, []).append((hashlib.md5(str(i).encode()).hexdigest(), i, len(text.split(" "))))
            out = {}
            for lang, docs in per_lang.items():
                cum = 0
                for _h, i, n in sorted(docs):
                    cum += n
                    if cum <= 10_000:
                        out[i] = (lang, n, cum)
            return out

        expect = naive()
        for n_buckets in (1, 8, 64):
            got = {
                r.id: (r.lang, r.n_tokens, r.cum_tokens)
                for r in C.token_budget_mix(
                    df, {}, default_budget=10_000, n_order_buckets=n_buckets
                ).collect()
            }
            assert got == expect, f"n_order_buckets={n_buckets} diverged from naive cumsum"

    def test_text_col_parameter(self, spark):
        # ADVICE r4: a differently named text column must work via text_col
        df = spark.createDataFrame(
            [(1, "x", "a b c")], "doc_id long, lang string, body string"
        )
        got = C.token_budget_mix(df, {}, default_budget=100, text_col="body").collect()
        assert got[0].n_tokens == 3


class TestQualityPercentileGate:
    def test_bucketed_rank_equals_naive_window(self, spark):
        """Skew-safe rank must equal row_number() OVER (PARTITION BY
        lang ORDER BY quality DESC, id) exactly — checked against a
        naive Python computation on a 0.9-skew corpus across bucket
        counts including the degenerate n=1."""
        rows = [(i, "en" if i % 10 else "de", round(((i * 37) % 101) / 100, 2)) for i in range(300)]
        df = spark.createDataFrame(rows, "doc_id long, lang string, quality double")

        def naive(frac):
            import math

            per = {}
            for i, lang, q in rows:
                per.setdefault(lang, []).append((-q, i))
            out = {}
            for lang, docs in per.items():
                docs.sort()
                keep = math.ceil(frac * len(docs))
                for rank, (_negq, i) in enumerate(docs, start=1):
                    if rank <= keep:
                        out[i] = (lang, rank, len(docs))
            return out

        expect = naive(0.6)
        for n_buckets in (1, 8, 64):
            got = {
                r.id: (r.lang, r.lang_rank, r.n_lang)
                for r in C.quality_percentile_gate(
                    df, frac=0.6, id_col="doc_id", n_order_buckets=n_buckets
                ).collect()
            }
            assert got == expect, f"n_order_buckets={n_buckets} diverged"

    def test_null_quality_rows_excluded(self, spark):
        """NULL quality is unrankable and engines disagree on NULL
        placement under DESC order — the operator must drop such rows
        explicitly, not leak them via join-on-NULL accidents, and rank
        the remainder as if they were never there."""
        df = spark.createDataFrame(
            [(1, "en", 0.9), (2, "en", None), (3, "en", 0.5), (4, "en", 0.1)],
            "doc_id long, lang string, quality double",
        )
        got = {
            r.id: (r.lang_rank, r.n_lang)
            for r in C.quality_percentile_gate(df, frac=0.75, id_col="doc_id").collect()
        }
        # 3 non-null rows, keep ceil(0.75*3)=3; ranks 1..3 over ids 1,3,4
        assert got == {1: (1, 3), 3: (2, 3), 4: (3, 3)}

    def test_no_single_partition_in_plan(self, spark):
        df = spark.createDataFrame(
            [(1, "x", 0.5), (2, "y", 0.7)], "doc_id long, lang string, quality double"
        )
        plan = (
            C.quality_percentile_gate(df, id_col="doc_id")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SinglePartition" not in plan


class TestCompressionRatioFullParity:
    def test_spark_equals_pure_python_on_sf_documents(self, spark):
        """compression_ratio has no SQL oracle (DuckDB lacks deflate),
        so pin the STRONG local equivalent instead: the Spark frame
        equals a driver-side pure-Python zlib pass over the same
        parquet, row for row — the same level of evidence a value-hash
        oracle gives, just computed in-process."""
        import zlib

        import pyarrow.parquet as pq

        from keras_ocr_spark.operators import textstats as TS

        tbl = pq.read_table("/root/testdata/sf0.001/documents.parquet", columns=["doc_id", "text"])
        want = {}
        for doc_id, text in zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()):
            if text is None:
                want[doc_id] = (None, None)
            else:
                raw = text.encode("utf-8")
                cr = round(len(zlib.compress(raw, 6)) / len(raw), 6) if raw else 1.0
                want[doc_id] = (len(text), cr)
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {
            r.id: (r.n_chars, r.compression_ratio)
            for r in TS.compression_ratios(docs).collect()
        }
        assert got == want and len(got) > 0


class TestDsirScores:
    def test_target_like_doc_scores_higher(self, spark):
        from keras_ocr_spark.operators.curation import dsir_scores

        # target slice (lang=en) talks about spark; raw noise differs
        docs = spark.createDataFrame(
            [
                (1, "en", "spark shuffles data fast"),
                (2, "en", "spark joins data well"),
                (3, "xx", "gato perro casa arbol"),
                (4, "xx", "spark shuffles data fast"),  # target-like text, raw slice
                (5, "xx", "perro casa arbol gato"),
            ],
            "doc_id long, lang string, text string",
        )
        out = {r.id: r for r in dsir_scores(docs, F.col("lang") == "en").collect()}
        # docs made of target-slice n-grams outweigh raw-only docs,
        # regardless of their own slice label
        assert out[4].logw > out[3].logw
        assert out[1].logw > out[5].logw
        assert out[1].n_feats == 7  # 4 unigrams + 3 bigrams

    def test_short_and_null_docs(self, spark):
        from keras_ocr_spark.operators.curation import dsir_scores

        docs = spark.createDataFrame(
            [(1, "en", "word"), (2, "en", None)],
            "doc_id long, lang string, text string",
        )
        out = {r.id: r for r in dsir_scores(docs, F.col("lang") == "en").collect()}
        assert out[1].n_feats == 1  # single word: no bigrams, no sequence(1,0) trap
        assert 2 not in out  # null text contributes no features, drops out

    def test_plan_no_cartesian_no_python(self, spark):
        from keras_ocr_spark.operators.curation import dsir_scores

        docs = spark.createDataFrame(
            [(1, "en", "a b c")], "doc_id long, lang string, text string"
        )
        plan = (
            dsir_scores(docs, F.col("lang") == "en")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "CartesianProduct" not in plan and "EvalPython" not in plan
        # the 1-row totals ride the one whitelisted BNLJ broadcast
        assert plan.count("BroadcastNestedLoopJoin") <= 1


class TestWeightedSample:
    def test_deterministic_and_weight_sensitive(self, spark):
        # ids 0..199 weight 1; ids 200..219 weight 50: the heavy block
        # is 20/220 of rows but ~83% of total mass — it must dominate.
        rows = [(i, 1.0) for i in range(200)] + [(i, 50.0) for i in range(200, 220)]
        df = spark.createDataFrame(rows, "doc_id long, w double")
        a = sorted(r.id for r in C.weighted_sample(df, "w", k=20).collect())
        b = sorted(r.id for r in C.weighted_sample(df, "w", k=20).collect())
        assert a == b and len(a) == 20  # same seed -> identical sample
        heavy = sum(1 for i in a if i >= 200)
        assert heavy >= 10  # P(heavy) per slot ~0.83; 10+ of 20 is a loose floor
        c = sorted(r.id for r in C.weighted_sample(df, "w", k=20, seed=1).collect())
        assert a != c  # new seed -> new sample

    def test_k_exceeds_population_and_bad_weights(self, spark):
        df = spark.createDataFrame(
            [(1, 2.0), (2, 0.0), (3, -1.0), (4, None), (5, 3.0)],
            "doc_id long, w double",
        )
        got = sorted(r.id for r in C.weighted_sample(df, "w", k=10).collect())
        assert got == [1, 5]  # zero/negative/NULL weights excluded
        with pytest.raises(ValueError):
            C.weighted_sample(df, "w", k=0)

    def test_plan_is_take_ordered_no_shuffle_of_data(self, spark):
        df = spark.createDataFrame([(i, 1.0) for i in range(50)], "doc_id long, w double")
        plan = C.weighted_sample(df, "w", k=5)._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan
        assert "Exchange" not in plan
