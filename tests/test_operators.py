"""Operator-level tests: dedup, text stats, PDF payloads.

Small hand-built inputs with exactly known answers (the reference's
golden-unit-test style, tests/test_tools.py + test_evaluation.py).
"""

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from keras_ocr_spark.operators import dedup as D
from keras_ocr_spark.operators import textstats as TS

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog"),
    (1, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy cat"),  # near dup of 0
    (3, "completely different words about spark and data engines"),
    (4, "tiny"),  # < 3 words: no shingles
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


class TestExactDedup:
    def test_exact_groups(self, docs):
        rows = {r.text_hash: r for r in D.exact_dedup(docs).collect()}
        assert len(rows) == 4  # 5 docs, one exact dup
        dup_group = [r for r in rows.values() if r.n_dups == 2]
        assert len(dup_group) == 1 and dup_group[0].keeper_id == 0


class TestNgramJaccard:
    def test_exact_dup_has_jaccard_one(self, docs):
        pairs = {(r.id_a, r.id_b): r.jaccard for r in D.ngram_jaccard_pairs(docs, threshold=0.1).collect()}
        assert pairs[(0, 1)] == 1.0
        assert 0 < pairs[(0, 2)] < 1.0  # near dup: some shared shingles
        assert (0, 3) not in pairs  # unrelated

    def test_hot_shingle_guard(self, docs):
        # Dropping ubiquitous shingles must not crash and removes pairs
        # that relied on them only.
        out = D.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=1).collect()
        assert all(r.id_a < r.id_b for r in out)


class TestPrefixFilterJaccard:
    def _random_corpus(self, spark, seed):
        """60 random docs + 12 planted near-dup pairs spanning the
        0.5-0.9 Jaccard band (word substitutions at varying rates)."""
        rnd = random.Random(seed)
        vocab = [f"w{i}" for i in range(120)]
        rows, nid = [], 0
        for _ in range(60):
            rows.append((nid, " ".join(rnd.choice(vocab) for _ in range(30))))
            nid += 1
        for j in range(12):
            base = [rnd.choice(vocab) for _ in range(30)]
            rows.append((nid, " ".join(base)))
            mut = list(base)
            for _ in range(1 + j % 5):
                mut[rnd.randrange(len(mut))] = rnd.choice(vocab)
            rows.append((nid + 1, " ".join(mut)))
            nid += 2
        return spark.createDataFrame(rows, "doc_id long, text string")

    @pytest.mark.parametrize("threshold", [0.5, 0.7, 0.9])
    def test_equals_naive_inverted_index_join(self, spark, threshold):
        """The prefix-filtered plan must return EXACTLY the naive
        all-shingle join's result set — no recall loss (the property
        the LSH path cannot offer)."""
        for seed in (7, 23):
            docs = self._random_corpus(spark, seed)
            naive = {
                (r.id_a, r.id_b): r.jaccard
                for r in D.ngram_jaccard_pairs(docs, threshold=threshold).collect()
            }
            pruned = {
                (r.id_a, r.id_b): r.jaccard
                for r in D.prefix_filter_jaccard_pairs(docs, threshold=threshold).collect()
            }
            assert pruned == naive

    def test_prefix_actually_prunes_candidates(self, spark):
        """At t=0.7 the prefix self-join must generate strictly fewer
        candidate pairs than the full inverted-index join."""
        docs = self._random_corpus(spark, 11)
        sh = D.shingle_docs(docs)
        a, b = sh.alias("a"), sh.alias("b")
        full = (
            a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .select("a.id", "b.id")
            .distinct()
            .count()
        )
        t = 0.7
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        wn = W.partitionBy("id")
        ranked = (
            sh.join(freq, "shingle")
            .withColumn("_p", F.row_number().over(wn.orderBy("_df", "shingle")))
            .withColumn("_n", F.count(F.lit(1)).over(wn))
        )
        prefix = ranked.filter(F.col("_p") <= F.col("_n") - F.ceil(F.lit(t) * F.col("_n")) + 1)
        pa, pb = prefix.alias("a"), prefix.alias("b")
        pruned = (
            pa.join(pb, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
            .select("a.id", "b.id")
            .distinct()
            .count()
        )
        assert pruned < full  # strictly fewer candidates...
        # ...and the structural guarantee: at t=0.7 each doc indexes
        # only ~n - ceil(0.7n) + 1 of its n shingles (~30% + 1).
        n_sh, n_prefix = sh.count(), prefix.count()
        assert n_prefix <= 0.35 * n_sh + docs.count()
        # The global rarity codes the coded frame carries equal the
        # single-window rank over (_df, shingle); most _df values tie.
        assert freq.filter(F.col("_df") == 2).count() > 1
        code = {
            r.shingle: r.c
            for r in freq.select("shingle", F.row_number().over(W.orderBy("_df", "shingle")).alias("c")).collect()
        }
        want = {}
        for r in sh.collect():
            want.setdefault(r.id, set()).add(code[r.shingle])
        coded = {r.id: r.codes for r in D._rarity_coded_docs(docs, "doc_id", "text", 3).collect()}
        assert coded == {i: sorted(c) for i, c in want.items()}

    def test_threshold_validation_and_plan(self, spark):
        docs = self._random_corpus(spark, 3)
        with pytest.raises(ValueError):
            D.prefix_filter_jaccard_pairs(docs, threshold=0.0)
        plan = (
            D.prefix_filter_jaccard_pairs(docs, threshold=0.8)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


class TestMinHashLSH:
    def test_signature_shape_and_determinism(self, docs, minhash_oracle):
        sigs = D.minhash_signatures(docs, n_hashes=16).collect()
        # the Arrow kernel and the DuckDB oracle SQL agree value for value
        assert {r.id: list(r.signature) for r in sigs} == minhash_oracle(DOCS, 16)
        # the single-digest scheme (n_hashes <= 8, one md5/shingle)
        # agrees too, and is a strict prefix of the 16-hash signature
        # (same windows over md5(s))
        a8 = {r.id: list(r.signature) for r in D.minhash_signatures(docs, n_hashes=8).collect()}
        assert a8 == minhash_oracle(DOCS, 8)
        assert all(a8[r.id] == list(r.signature)[:8] for r in sigs)
        assert all(len(r.signature) == 16 for r in sigs)
        assert {r.id for r in sigs} == {0, 1, 2, 3}  # doc 4 has no shingles
        by_id = {r.id: r.signature for r in sigs}
        assert by_id[0] == by_id[1]  # identical docs -> identical signatures

    def test_lsh_finds_exact_dup(self, docs):
        sigs = D.minhash_signatures(docs, n_hashes=16)
        pairs = {(r.id_a, r.id_b) for r in D.lsh_candidate_pairs(sigs).collect()}
        assert (0, 1) in pairs

    def test_full_flow_verifies_candidates(self, docs):
        out = {(r.id_a, r.id_b): r.jaccard for r in D.minhash_dedup_pairs(docs, threshold=0.9).collect()}
        assert out.get((0, 1)) == 1.0
        assert all(j >= 0.9 for j in out.values())

    def test_bucket_cap_is_optin_and_observable(self, spark):
        # 30 copies of one text: every band bucket holds all 30 ids.
        docs = spark.createDataFrame(
            [(i, "the same boilerplate text repeated for everyone") for i in range(30)],
            "doc_id long, text string",
        )
        sigs = D.minhash_signatures(docs, n_hashes=16)
        # Default: NO cap -> complete candidate set (30 choose 2).
        full = D.lsh_candidate_pairs(sigs).count()
        assert full == 30 * 29 // 2
        # Opt-in cap drops the hot bucket AND reports it.
        pairs, dropped = D.lsh_candidate_pairs(sigs, max_bucket_size=10, return_dropped=True)
        assert pairs.count() == 0
        drops = dropped.collect()
        assert len(drops) == 4  # one per band
        assert all(r.bucket_size == 30 for r in drops)


class TestSimHash:
    def test_fingerprints_deterministic_and_close_for_near_dups(self, docs):
        fps = {r.id: r.simhash for r in D.simhash_fingerprints(docs).collect()}
        assert fps[0] == fps[1]
        assert all(-(1 << 63) <= v < (1 << 63) for v in fps.values())  # signed int64
        ham_near = bin((fps[0] ^ fps[2]) & ((1 << 64) - 1)).count("1")
        ham_far = bin((fps[0] ^ fps[3]) & ((1 << 64) - 1)).count("1")
        assert ham_near < ham_far

    def test_expression_twin_equals_python_kernel(self, docs):
        # the Arrow kernel equals the pure-Python golden, row by row
        from keras_ocr_spark.functions.hashing import simhash64_py

        fast = {r.id: r.simhash for r in D.simhash_fingerprints(docs).collect()}
        assert fast == {i: simhash64_py(t) for i, t in DOCS}

    def test_near_pairs(self, docs):
        pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_near_pairs(docs, max_hamming=3).collect()}
        assert pairs.get((0, 1)) == 0

    def test_block_bucket_cap_engages_and_bounds_pairs(self, spark):
        # 20 copies of one text: every (blk, key) bucket holds all 20
        # prints -> 190 pairs uncapped; the cap must drop the hot
        # buckets and bound the candidate expansion to zero.
        docs = spark.createDataFrame(
            [(i, "twenty identical boilerplate documents in one bucket") for i in range(20)],
            "doc_id long, text string",
        )
        assert D.simhash_near_pairs(docs).count() == 20 * 19 // 2
        assert D.simhash_near_pairs(docs, max_block_bucket_size=10).count() == 0
        # A cap above the bucket size changes nothing (guard is inert).
        assert D.simhash_near_pairs(docs, max_block_bucket_size=50).count() == 190

    def test_near_pair_with_flips_across_blocks(self, spark):
        """Pigeonhole regression: a Hamming-3 pair whose differing bits
        span blocks 0, 1 AND 2 (precomputed via simhash64_py) must still
        meet in the remaining intact block. The old 2-block scheme
        silently dropped such pairs."""
        base = "the quick brown fox jumps over the lazy dog again and again with many words to stabilize votes"
        near = base + " tok2"  # Hamming 3, flips in blocks {0,1,2}
        df = spark.createDataFrame([(0, base), (1, near)], "doc_id int, text string")
        pairs = {(r.id_a, r.id_b): r.hamming for r in D.simhash_near_pairs(df, max_hamming=3).collect()}
        assert pairs == {(0, 1): 3}

    def test_pigeonhole_block_count_enforced(self, docs):
        with pytest.raises(ValueError, match="pigeonhole"):
            D.simhash_near_pairs(docs, max_hamming=4)


class TestTextStats:
    @pytest.fixture(scope="class")
    def tiny(self, spark):
        return spark.createDataFrame(
            [(0, "the cat and the dog"), (1, "el perro y la casa de que"), (2, "x! y? z.")],
            "doc_id int, text string",
        )

    def test_lang_scores(self, tiny):
        rows = {r.id: r for r in TS.lang_scores(tiny).collect()}
        assert rows[0].score_en == 3 and rows[0].pred_lang == "en"  # the x2, and
        assert rows[1].pred_lang == "es"

    def test_token_counts(self, tiny):
        rows = {r.id: r for r in TS.token_counts(tiny).collect()}
        assert rows[0].n_ws_tokens == 5
        assert rows[2].n_bpe_tokens == 6  # x ! y ? z .

    def test_quality_monotonic(self, tiny):
        rows = {r.id: r for r in TS.quality_scores(tiny).collect()}
        assert rows[0].quality > rows[2].quality  # words beat punct soup
        assert rows[0].stop_ratio == 0.6

    def test_fingerprint_stable(self, tiny):
        a = {r.id: r.fingerprint for r in TS.fingerprints(tiny).collect()}
        b = {r.id: r.fingerprint for r in TS.fingerprints(tiny).collect()}
        assert a == b and len(set(a.values())) == 3

    def test_unigram_kl_drift_matches_hand_computation(self, spark):
        """A: 'a a b' (en), B: 'a c' (es). Union vocab {a,b,c}, add-1:
        p_a = (c_a+1)/(3+3), p_b = (c_b+1)/(2+3)."""
        import math

        df = spark.createDataFrame(
            [(0, "a a b", "en"), (1, "a c", "es")], "doc_id int, text string, lang string"
        )
        rows = {r.word: r for r in TS.unigram_kl_drift(df, slice_col="lang", slice_a="en").collect()}
        assert set(rows) == {"a", "b", "c"}
        assert (rows["a"].c_a, rows["a"].c_b) == (2, 1)
        assert (rows["b"].c_a, rows["b"].c_b) == (1, 0)
        assert (rows["c"].c_a, rows["c"].c_b) == (0, 1)
        for w, ca, cb in [("a", 2, 1), ("b", 1, 0), ("c", 0, 1)]:
            pa, pb = (ca + 1) / 6.0, (cb + 1) / 5.0
            assert abs(rows[w].p_a - pa) < 1e-6
            assert abs(rows[w].p_b - pb) < 1e-6
            assert abs(rows[w].kl_term - pa * math.log(pa / pb)) < 1e-6

    def test_unigram_kl_drift_identical_slices_zero(self, spark):
        """Same text in both slices -> every per-word contribution is
        exactly 0 (p_a == p_b termwise, ln(1) = 0)."""
        df = spark.createDataFrame(
            [(0, "x y z", "en"), (1, "x y z", "fr")], "doc_id int, text string, lang string"
        )
        out = TS.unigram_kl_drift(df, slice_col="lang", slice_a="en").collect()
        assert len(out) == 3
        assert all(r.kl_term == 0.0 for r in out)


class TestBigramLogprob:
    def test_matches_hand_computation(self, spark):
        import math

        df = spark.createDataFrame(
            [(0, "a b a b"), (1, "b a"), (2, "c")], "doc_id int, text string"
        )
        # corpus bigrams: doc0 -> (a,b),(b,a),(a,b); doc1 -> (b,a); doc2 none
        # c2: (a,b)=2, (b,a)=2 ; c1: a=2 (wait: a as w1 occurs in (a,b)x2) ...
        rows = {r.id: r for r in TS.bigram_logprob(df).collect()}
        V = 3  # vocab {a, b, c}
        lp_ab = math.log((2 + 1) / (2 + V))  # c2(a,b)=2, c1(a)=2
        lp_ba = math.log((2 + 1) / (2 + V))  # c2(b,a)=2, c1(b)=2
        exp0 = (lp_ab + lp_ba + lp_ab) / 3
        assert rows[0].n_bigrams == 3
        assert abs(rows[0].avg_logprob - exp0) < 1e-5
        assert rows[1].n_bigrams == 1
        assert abs(rows[1].avg_logprob - lp_ba) < 1e-5
        assert 2 not in rows  # single-word doc has no bigrams

    def test_word_salad_scores_lower_than_fluent(self, spark):
        # Same words; doc 1 repeats the corpus-dominant order, doc 9
        # scrambles it -> rare bigrams -> lower mean logprob.
        fluent = [(i, "the cat sat on the mat") for i in range(9)]
        df = spark.createDataFrame(
            fluent + [(9, "mat the on sat cat the")], "doc_id int, text string"
        )
        rows = {r.id: r.avg_logprob for r in TS.bigram_logprob(df).collect()}
        assert rows[9] < rows[0]


class TestContainmentPairs:
    def test_quote_inclusion_found_where_jaccard_misses(self, spark):
        long_words = [f"w{i}" for i in range(40)]
        excerpt = " ".join(long_words[5:13])  # 8 interior words
        df = spark.createDataFrame(
            [(0, " ".join(long_words)), (1, excerpt), (2, "zz yy xx ww vv")],
            "doc_id int, text string",
        )
        pairs = D.containment_pairs(df, threshold=0.8).collect()
        assert len(pairs) == 1
        p = pairs[0]
        assert (p.id_a, p.id_b) == (0, 1)
        assert p.containment == 1.0  # every excerpt shingle is in the long doc
        # the same pair is invisible to Jaccard at any useful threshold
        jac = D.ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert jac == []

    def test_hot_shingle_guard(self, spark):
        # 7 words -> 5 shingles/doc, 4 of them boilerplate shared by all
        # 10 docs: containment 4/5 = 0.8 without the guard.
        df = spark.createDataFrame(
            [(i, "one two three four five six w" + str(i)) for i in range(10)],
            "doc_id int, text string",
        )
        unpruned = D.containment_pairs(df, threshold=0.8).collect()
        assert len(unpruned) == 45  # every pair, via boilerplate alone
        # df ceiling 5 prunes the shared shingles -> only the unique
        # trailing shingle survives per doc -> no pairs at all
        pruned = D.containment_pairs(df, threshold=0.8, max_shingle_df=5).collect()
        assert pruned == []

    def test_float_ceil_keeps_rarest_common_shingle_in_prefix(self, spark):
        # 0.56 * 25 is 14.000000000000002 in binary floating point. Doc 1
        # has 25 shingles, 14 shared with doc 2 and 11 rarer ones of its
        # own, so its rarest common shingle is prefix position 12 =
        # 25 - 14 + 1: a ceil of 15 cuts the prefix to 11 and loses the
        # pair. Doc ids stay off the oracle's excerpt augmentation
        # (doc_id % 7 == 0), so both engines see the same two docs.
        import duckdb
        import pandas as pd

        from keras_ocr_spark.driver_queries import QUERIES

        shared = [f"s{i}" for i in range(16)]  # 14 shingles
        rows = [
            (1, " ".join([f"a{i}" for i in range(11)] + shared)),
            (2, " ".join(shared + [f"b{i}" for i in range(20)])),
        ]
        docs = spark.createDataFrame(rows, "doc_id long, text string")
        got = sorted(tuple(r) for r in D.containment_pairs(docs, threshold=0.56).collect())
        sql = QUERIES["dedup_containment"][1]
        assert sql.count("CAST(0.8 AS DOUBLE)") == 1
        con = duckdb.connect()
        con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = sorted(con.execute(sql.replace("CAST(0.8 AS DOUBLE)", "CAST(0.56 AS DOUBLE)")).fetchall())
        assert want == [(1, 2, 25, 34, 0.56)]
        assert got == want


class TestEncodeAndFilters:
    def test_vocab_encode_matches_reference_semantics(self, spark):
        """[alphabet.index(c)] + [-1]*pad (recognition.py:450-459)."""
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame([(0, "ab0"), (1, "Zz!  9")], "doc_id int, text string")
        rows = {r.id: (r.label_length, r.labels) for r in E.vocab_encode(df, max_len=6).collect()}
        a = E.DEFAULT_ALPHABET
        assert rows[0] == (3, [a.index("a"), a.index("b"), a.index("0"), -1, -1, -1])
        # "Zz!  9" -> lower+strip non-alphabet -> "zz9"
        assert rows[1] == (3, [a.index("z"), a.index("z"), a.index("9"), -1, -1, -1])

    def test_vocab_encode_truncates(self, spark):
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame([(0, "abcdef")], "doc_id int, text string")
        r = E.vocab_encode(df, max_len=4).collect()[0]
        assert r.label_length == 4 and len(r.labels) == 4

    def test_font_support_expr(self, spark):
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame([(0, "good dog"), (1, "quiet dog")], "doc_id int, text string")
        out = {
            r.doc_id: r.ok
            for r in df.select("doc_id", E.font_support_expr(F.col("text"), "dgo ").alias("ok")).collect()
        }
        assert out == {0: True, 1: False}

    def test_epoch_shuffle_deterministic_and_seed_sensitive(self, spark):
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame([(i,) for i in range(30)], "doc_id int")
        p7a = [r.doc_id for r in E.epoch_shuffle(df, 7).orderBy("shuffle_pos").collect()]
        p7b = [r.doc_id for r in E.epoch_shuffle(df, 7).orderBy("shuffle_pos").collect()]
        p8 = [r.doc_id for r in E.epoch_shuffle(df, 8).orderBy("shuffle_pos").collect()]
        assert p7a == p7b  # same seed -> same permutation
        assert p7a != p8  # new epoch seed -> new permutation
        assert sorted(p7a) == list(range(30))  # a permutation, not a sample

    def test_bpe_pair_counts_hand_computed(self, spark):
        """One BPE round over a tiny corpus, weights checked by hand:
        word counts aggregate BEFORE the pair explode, so a repeated
        word contributes its count, not one."""
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame(
            [(0, "aa ab aa"), (1, "THE the cat"), (2, "a x don't")],
            "doc_id int, text string",
        )
        # words (len>=2): aa cnt 2, ab 1, the 2, cat 1, don 1
        # ("a"/"x"/"t" are single-char; "don't" splits at the apostrophe)
        got = {r.pair: r.n for r in E.bpe_pair_counts(df, top_n=100).collect()}
        assert got == {
            "aa": 2, "ab": 1, "th": 2, "he": 2, "ca": 1, "at": 1, "do": 1, "on": 1,
        }

    def test_bpe_pair_counts_topn_cut_is_total_order(self, spark):
        from keras_ocr_spark.operators import encode as E

        df = spark.createDataFrame([(0, "aa ab aa the the cat")], "doc_id int, text string")
        top = [(r.pair, r.n) for r in E.bpe_pair_counts(df, top_n=3).collect()]
        # ties at n=2 cut by pair ASC: aa, he, th
        assert sorted(top) == [("aa", 2), ("he", 2), ("th", 2)]
        with pytest.raises(ValueError):
            E.bpe_pair_counts(df, min_word_len=1)


class TestPdfExtract:
    def test_roundtrip_with_parens(self, spark):
        from keras_ocr_spark.operators import multimodal as M

        df = spark.createDataFrame(
            [(0, "plain text"), (1, "with (nested) parens"), (2, "multi\nline"), (3, "back\\slash (x)")],
            "doc_id int, text string",
        )
        out = {r.id: (r.pdf_text, r.n_bytes) for r in M.pdf_extract_text(M.synth_pdf_payloads(df)).collect()}
        assert out[0][0] == "plain text"
        assert out[1][0] == "with (nested) parens"  # PDF escaping round-trips parens
        assert out[2][0] == "multi\nline"
        assert out[3][0] == "back\\slash (x)"
        assert out[0][1] == len("%PDF-1.4 BT (plain text) Tj ET EOF")

    def test_multiblock_synthesis_uses_both_show_forms(self, spark):
        from keras_ocr_spark.operators import multimodal as M

        # 10 words -> 3 chunks -> 3 BT..ET blocks alternating Tj / TJ.
        text = " ".join(f"w{i}" for i in range(10))
        df = spark.createDataFrame([(0, text)], "doc_id int, text string")
        payload = bytes(M.synth_pdf_payloads(df).collect()[0].payload)
        assert payload.count(b"BT ") == 3 and payload.count(b" ET") == 3
        assert payload.count(b"Tj") == 2 and payload.count(b"TJ") == 1
        assert M.parse_pdf_text(payload) == text

    def test_parser_handles_real_grammar_shapes(self):
        from keras_ocr_spark.operators.multimodal import parse_pdf_text

        # multiple show ops in ONE block concatenate directly
        assert parse_pdf_text(b"BT (ab) Tj (cd) Tj ET") == "abcd"
        # TJ array: numbers are kerning, strings concatenate
        assert parse_pdf_text(b"BT [(he) -120 (llo)] TJ ET") == "hello"
        # blocks join with a single space; ET inside a string is safe
        assert parse_pdf_text(b"BT (the ETF fund) Tj ET BT (GET) Tj ET") == "the ETF fund GET"
        # escapes
        assert parse_pdf_text(rb"BT (a\(b\)c\\d) Tj ET") == "a(b)c\\d"

    def test_roundtrip_fuzz(self, spark):
        import random

        from keras_ocr_spark.operators import multimodal as M

        random.seed(3)
        alphabet = "ab ()\\ETBTTj[]"
        texts = [
            (i, "".join(random.choice(alphabet) for _ in range(random.randint(1, 60))))
            for i in range(40)
        ]
        # split-on-space round-trip needs no leading/trailing ambiguity:
        # any text is legal; the chunker preserves empty words exactly.
        df = spark.createDataFrame(texts, "doc_id int, text string")
        out = {r.id: r.pdf_text for r in M.pdf_extract_text(M.synth_pdf_payloads(df)).collect()}
        for i, t in texts:
            assert out[i] == t, (i, repr(t), repr(out[i]))

    def test_garbage_payload_yields_null(self, spark):
        from keras_ocr_spark.operators import multimodal as M

        df = spark.createDataFrame([(0, bytearray(b"not a pdf"))], "id long, payload binary")
        r = M.pdf_extract_text(df).collect()[0]
        assert r.pdf_text is None and r.n_bytes == 9


class TestApproxAggregates:
    def test_approx_count_distinct_within_tolerance(self, spark):
        """approx_count_distinct (HLL++) has no cross-engine oracle (the
        sketch differs per engine) — assert the 5%-rsd contract against
        the exact count instead."""
        from pyspark.sql import functions as F

        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        row = ev.agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("approx"),
        ).collect()[0]
        assert abs(row.approx - row.exact) <= max(3, 0.15 * row.exact)


class TestBm25:
    def test_goldens_and_ordering(self, spark):
        from keras_ocr_spark.operators.retrieval import bm25_scores

        docs = spark.createDataFrame(
            [
                (0, "spark joins hash tables fast"),
                (1, "hash hash hash everywhere hash"),
                (2, "nothing relevant here at all"),
                (3, "hash"),
            ],
            "doc_id long, text string",
        )
        rows = {r.id: r.bm25 for r in bm25_scores(docs, ("hash",)).collect()}
        assert 2 not in rows  # zero-score docs filtered
        # heavy repetition wins but saturates under k1; the short
        # single-term doc beats a single mention in a longer doc
        # (length normalization)
        assert rows[1] > rows[3] > rows[0] > 0
        # saturation: 4x the tf bought less than 2x the score
        assert rows[1] < 2 * rows[3]

    def test_matches_reference_formula(self, spark):
        import math

        from keras_ocr_spark.operators.retrieval import bm25_scores

        docs = spark.createDataFrame(
            [(0, "a b c a"), (1, "a d"), (2, "x y z")], "doc_id long, text string"
        )
        got = {r.id: r.bm25 for r in bm25_scores(docs, ("a",), k1=1.2, b=0.75).collect()}
        n, df_a, avgdl = 3.0, 2.0, (4 + 2 + 3) / 3.0
        idf = math.log(1 + (n - df_a + 0.5) / (df_a + 0.5))

        def score(tf, dl):
            return idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))

        assert abs(got[0] - score(2, 4)) < 1e-12
        assert abs(got[1] - score(1, 2)) < 1e-12
        assert 2 not in got


class TestNfcNormalize:
    def test_combining_sequences_compose_and_flags(self, spark):
        import unicodedata

        from keras_ocr_spark.operators import textstats as TS

        decomposed = "café naño"  # e+ACUTE, n+TILDE
        composed = unicodedata.normalize("NFC", decomposed)
        assert decomposed != composed and len(composed) == len(decomposed) - 2
        df = spark.createDataFrame(
            [(1, decomposed), (2, "ascii only"), (3, None)],
            "doc_id long, text string",
        )
        out = {r.id: r for r in TS.nfc_normalize_texts(df).collect()}
        assert out[1].norm_text == composed and out[1].changed and out[1].n_cp == len(composed)
        assert out[2].norm_text == "ascii only" and not out[2].changed
        assert out[3].norm_text is None and not out[3].changed

    def test_single_arrow_node_map_only(self, spark):
        from keras_ocr_spark.operators import textstats as TS

        df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
        plan = TS.nfc_normalize_texts(df)._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1
        assert "Exchange" not in plan


class TestDirtyInputDegradation:
    """r4 self-review regressions: dirty rows degrade, never crash or
    diverge from the oracle semantics."""

    def test_substring_dedup_null_text_matches_oracle_contract(self, spark):
        docs = spark.createDataFrame(
            [(1, None), (2, "a b c d e f g")], "doc_id long, text string"
        )
        rows = {r.id: r for r in D.substring_dup_stats(docs, k=5).collect()}
        # oracle COALESCEs to '' for the null-text doc; Spark must agree
        assert rows[1].clean_text == "" and rows[1].dup_words == 0
        assert rows[1].n_words is None  # len(split(NULL)) is NULL both engines


class TestShinglePagerank:
    """operators/graphrank.py — integer fixed-point PageRank over the
    shared-shingle graph, bit-exact vs an independent Python loop."""

    # path graph 1-2-3 via shared 3-gram shingles; 4 isolated; 5..13
    # share only one hot shingle held by 9 > max_group=8 docs -> no edges
    PR_DOCS = (
        [
            (1, "a b c x1 y1"),
            (2, "a b c x2 y2"),
            (3, "b c x2 z extra"),
            (4, "isolated words only right here"),
        ]
        + [(i, f"hot hot hot u{i} v{i}") for i in range(5, 14)]
    )

    @staticmethod
    def _python_reference(texts, k=3, max_group=8, iters=3, d_num=17, d_den=20):
        from collections import defaultdict

        groups = defaultdict(set)
        for i, t in texts:
            w = t.split()
            for j in range(len(w) - k + 1):
                groups[" ".join(w[j : j + k])].add(i)
        pairs = set()
        for members in groups.values():
            if 2 <= len(members) <= max_group:
                ms = sorted(members)
                for x in range(len(ms)):
                    for y in range(x + 1, len(ms)):
                        pairs.add((ms[x], ms[y]))
        edges = list(pairs) + [(b, a) for a, b in pairs]
        deg = defaultdict(int)
        for s, _ in edges:
            deg[s] += 1
        scale = 1_000_000
        base = (scale * (d_den - d_num)) // d_den
        r = {n: scale for n in deg}
        for _ in range(iters):
            contrib = defaultdict(int)
            for s, d in edges:
                contrib[d] += r[s] // deg[s]
            r = {n: base + (d_num * contrib[n]) // d_den for n in deg}
        return {n: (deg[n], r[n] / scale) for n in deg}

    def test_bit_exact_vs_python_reference(self, spark):
        from keras_ocr_spark.operators.graphrank import shingle_graph_pagerank

        df = spark.createDataFrame(self.PR_DOCS, "doc_id long, text string")
        got = {r.id: (r.deg, r.rank) for r in shingle_graph_pagerank(df).collect()}
        want = self._python_reference(self.PR_DOCS)
        assert got == want
        # path graph 1-2-3 only: isolated + hot-shingle docs are not nodes
        assert set(got) == {1, 2, 3}
        assert got[2][0] == 2 and got[1] == got[3]  # symmetry holds exactly

    def test_hot_shingle_cap_blocks_quadratic_blowup(self, spark):
        from keras_ocr_spark.operators.graphrank import shingle_graph_pagerank

        # all 9 docs share ONE shingle; group size 9 > max_group=8 -> empty
        df = spark.createDataFrame(
            [(i, f"hot hot hot u{i} v{i}") for i in range(9)], "doc_id long, text string"
        )
        assert shingle_graph_pagerank(df).count() == 0
        # raising the cap to 9 admits the group: complete graph K9, deg 8
        out = shingle_graph_pagerank(df, max_group=9).collect()
        assert len(out) == 9 and all(r.deg == 8 for r in out)
        # regular graph: PageRank fixed point stays at the uniform rank
        assert all(r.rank == out[0].rank for r in out)

    def test_plan_no_cartesian_no_python(self, spark):
        from keras_ocr_spark.operators.graphrank import shingle_graph_pagerank

        df = spark.createDataFrame(self.PR_DOCS, "doc_id long, text string")
        plan = shingle_graph_pagerank(df)._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan and "EvalPython" not in plan

    def test_rejects_zero_iters(self, spark):
        from keras_ocr_spark.operators.graphrank import shingle_graph_pagerank

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError, match="iters"):
            shingle_graph_pagerank(df, iters=0)
