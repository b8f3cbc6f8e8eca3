"""Edge-input hardening: nulls, empty strings, whitespace-only and
single-char texts must flow through every text operator without
crashing, with sensible (documented) outputs. A 100 TB corpus always
contains these rows; an operator that throws on them kills the stage."""

import random

import pytest
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from keras_ocr_spark.operators import dedup as D
from keras_ocr_spark.operators import encode as E
from keras_ocr_spark.operators import textstats as TS
from keras_ocr_spark.plans.pipeline import extract


EDGE_ROWS = [
    (0, None),
    (1, ""),
    (2, "   "),
    (3, "x"),
    (4, "a perfectly ordinary sentence with enough words to extract and shingle nicely"),
]

_SENTENCE = EDGE_ROWS[4][1]

#: Every input class the dedup kernels must agree with their independent
#: references on: the edge texts, fewer than k words, multi-space runs,
#: and exact and near duplicates (which also plant duplicated 5-grams).
DEDUP_ROWS = [
    *EDGE_ROWS,
    (5, "two words"),
    (6, "multi  spaced   text with  gaps between its words"),
    (7, _SENTENCE),
    (8, _SENTENCE.replace("nicely", "neatly")),
]


@pytest.fixture(scope="module")
def edge_docs(spark):
    return spark.createDataFrame(EDGE_ROWS, "doc_id int, text string")


@pytest.fixture(scope="module")
def dedup_docs(spark):
    return spark.createDataFrame(DEDUP_ROWS, "doc_id int, text string")


class TestEdgeTexts:
    def test_extract_pipeline(self, spark, edge_docs):
        t = edge_docs.select(
            F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            "text",
        )
        rows = {r.conv_id: (r.clean_text, len(r.spans)) for r in extract(t).collect()}
        assert len(rows) == 5  # every row survives, including null text
        assert rows["c0"] == ("", 0) and rows["c1"] == ("", 0)  # null/empty -> blank turn
        assert rows["c4"][1] == 1  # the real sentence extracts

    def test_dedup_family(self, dedup_docs, minhash_oracle, oracle_rows):
        """Each per-document dedup kernel equals its independent
        reference on every input class."""
        from keras_ocr_spark.driver_queries import QUERIES
        from keras_ocr_spark.functions.hashing import simhash64_py

        assert D.exact_dedup(dedup_docs).count() >= 4  # null hashes to null key, no crash
        for n in (16, 8):
            sigs = {r.id: list(r.signature) for r in D.minhash_signatures(dedup_docs, n_hashes=n).collect()}
            assert sigs == minhash_oracle(DEDUP_ROWS, n)
        # Whitespace-only text splits into >= k empty "words" and signs
        # with degenerate shingles — all-whitespace docs bucket together
        # (they ARE near-dups).
        assert set(sigs) == {2, 4, 6, 7, 8}
        assert sigs[7] == sigs[4]  # exact dups sign alike
        fps = {r.id: r.simhash for r in D.simhash_fingerprints(dedup_docs).collect()}
        assert fps[0] is None  # null text -> null fingerprint
        assert fps == {i: simhash64_py(t) for i, t in DEDUP_ROWS}
        subs = sorted(tuple(r) for r in D.substring_dup_stats(dedup_docs, k=5).collect())
        assert subs == sorted(oracle_rows(QUERIES["dedup_substring"][1], DEDUP_ROWS))
        assert {r[0] for r in subs if r[2] > 0} == {4, 7, 8}
        pairs = D.ngram_jaccard_pairs(dedup_docs, threshold=0.1).collect()
        assert all(r.id_a < r.id_b for r in pairs)

    def test_shingle_forms_agree(self, dedup_docs, oracle_rows):
        """The JVM expression, the Arrow kernel and the oracle SQL build
        the same (id, shingle) rows; the kernel's per-document arrays
        hold each doc's distinct shingles in first-occurrence order."""
        from keras_ocr_spark.driver_queries import _SHINGLES_SQL
        from keras_ocr_spark.functions.hashing import shingles_expr, words_expr

        jvm = sorted(tuple(r) for r in D.shingle_docs(dedup_docs).collect())
        arrays = {r.id: list(r.shingles) for r in D.shingle_docs_arrow(dedup_docs).collect()}
        arrow = sorted((i, s) for i, shs in arrays.items() for s in shs)
        duck = sorted(oracle_rows(f"SELECT id, unnest(shingles) FROM ({_SHINGLES_SQL})", DEDUP_ROWS))
        assert {i for i, _ in jvm} == {2, 4, 6, 7, 8}
        assert jvm == arrow == duck
        ordered = dedup_docs.select(
            F.col("doc_id").alias("id"), shingles_expr(words_expr(F.col("text")), 3).alias("s")
        )
        assert {r.id: list(r.s) for r in ordered.collect() if r.s} == {i: s for i, s in arrays.items() if s}
        assert set(arrays) == {i for i, _ in DEDUP_ROWS}  # one array per document

    def test_array_verification_equals_oracle_jaccard(self, spark, oracle_rows):
        """``verify_jaccard`` on per-document shingle arrays scores every
        candidate pair as the DuckDB shingle-join oracle does: docs under
        k words, shingles repeated within one doc, and seeded random
        near-duplicates."""
        from keras_ocr_spark.driver_queries import QUERIES

        rng = random.Random(1305)
        vocab = [f"w{i}" for i in range(10)]
        rows = [*DEDUP_ROWS, (9, "a b c a b c a b c"), (10, "a b c a b c d"), (11, "a b")]
        for i in range(12, 60):
            if i % 2 and rows[-1][1]:
                words = rows[-1][1].split(" ")
                for _ in range(rng.randint(0, 2)):
                    words[rng.randrange(len(words))] = rng.choice(vocab)
            else:
                words = [rng.choice(vocab) for _ in range(rng.randint(1, 14))]
            rows.append((i, " ".join(words)))
        empty = {i for i, t in rows if t is None or len(t.split(" ")) < 3}
        pairs = [(a, b) for a, _ in rows for b, _ in rows if a < b and not (a in empty and b in empty)]
        cands = spark.createDataFrame(pairs, "id_a int, id_b int")
        sh = D.shingle_docs_arrow(spark.createDataFrame(rows, "doc_id int, text string"))
        got = D.verify_jaccard(
            cands, sh.withColumnRenamed("id", "id_a"), sh.withColumnRenamed("id", "id_b"), "id_a", "id_b", 0.5
        )
        want = sorted(oracle_rows(QUERIES["dedup_ngram_jaccard"][1], rows))
        assert sorted(tuple(r) for r in got.collect()) == want
        assert len(want) >= 10 and (9, 10, 0.75) in want

    def test_minhash_rejects_more_hashes_than_digest_windows(self, edge_docs):
        # a 64-hex digest holds 16 windows: a 17th component would
        # silently be missing, and its band key equal for every doc
        with pytest.raises(ValueError, match="digest windows"):
            D.minhash_signatures(edge_docs, n_hashes=17)

    def test_textstats_family(self, edge_docs):
        nn = edge_docs.filter(F.col("text").isNotNull())
        assert TS.lang_scores(nn).count() == 4
        assert TS.quality_scores(nn).count() == 4
        assert TS.token_counts(nn).count() == 4
        assert TS.fingerprints(nn).count() == 4
        # empty text: zero-ish features, never a crash or NaN
        q = {r.id: r for r in TS.quality_scores(nn).collect()}
        assert q[1].n_chars == 0 and q[1].quality is not None

    def test_encode_family(self, edge_docs):
        nn = edge_docs.filter(F.col("text").isNotNull())
        enc = {r.id: (r.label_length, r.labels) for r in E.vocab_encode(nn, max_len=8).collect()}
        assert enc[1] == (0, [-1] * 8)  # empty -> all-pad
        assert enc[3][0] == 1 and enc[3][1][0] >= 0  # single char encodes
        shuf = E.epoch_shuffle(nn, seed=3)
        assert sorted(r.shuffle_pos for r in shuf.collect()) == [1, 2, 3, 4]
        # null order keys take the first positions (Spark's ascending
        # NULLS FIRST), the rest follow the single-window rank
        keyed = edge_docs.withColumn("doc_id", F.when(F.col("doc_id") % 2 == 0, F.col("doc_id")))
        k = E.epoch_shuffle_key_expr(F.col("doc_id"), 3)
        naive = keyed.withColumn("shuffle_pos", F.row_number().over(W.orderBy(k, "doc_id")))
        got = {(r.doc_id, r.text): r.shuffle_pos for r in E.epoch_shuffle(keyed, seed=3).collect()}
        want = {(r.doc_id, r.text): r.shuffle_pos for r in naive.collect()}
        for ranks in (got, want):
            assert sorted(p for (doc_id, _), p in ranks.items() if doc_id is None) == [1, 2]
        assert {key: p for key, p in got.items() if key[0] is not None} == {
            key: p for key, p in want.items() if key[0] is not None
        }

    def test_pdf_null_payload(self, spark):
        from keras_ocr_spark.operators.multimodal import pdf_extract_text

        df = spark.createDataFrame([(0, None), (1, bytearray(b"BT (ok) Tj ET"))], "id long, payload binary")
        rows = {r.id: (r.pdf_text, r.n_bytes) for r in pdf_extract_text(df).collect()}
        assert rows[0] == (None, 0)
        assert rows[1] == ("ok", 13)
