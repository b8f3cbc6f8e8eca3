"""Cross-implementation parity: Spark pipeline ≡ single-process oracle.

The graft's central correctness contract, modeled on the reference's
Keras-vs-PyTorch agreement test
(``/root/reference/tests/test_pytorch_keras.py:21-49``) — but exact
string equality instead of 1e-4 float tolerance, because every transform
here is integer/string.
"""

import random

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.core import decode_text, extract_turn
from keras_ocr_spark.functions.text import decode_expr
from keras_ocr_spark.plans.pipeline import extract
from keras_ocr_spark.sources.transcripts import (
    BLANK_CONV,
    GOLDEN_CONV,
    GOLDEN_TEXT,
    MULTI_CONV,
    MULTI_TEXT,
    SKEW_CONV,
    generate_pandas,
    spark_transcripts,
)


def _assert_frame_equals_oracle(spark_rows, pdf):
    got = {(r.conv_id, r.turn_idx): r for r in spark_rows}
    assert len(got) == len(pdf)
    for _, t in pdf.iterrows():
        o = extract_turn(t.text)
        r = got[(t.conv_id, t.turn_idx)]
        assert r.clean_text == o.clean_text, (t.conv_id, t.turn_idx)
        assert [(s.start, s.end) for s in r.spans] == [(s.start, s.end) for s in o.spans], (
            t.conv_id,
            t.turn_idx,
        )


@pytest.fixture(scope="module")
def result(spark):
    """Run the pipeline once (WITH skew + salting) and share the result."""
    df = spark_transcripts(spark, n_convs=30, make_skewed=True)
    rows = extract(df, n_salt=8).collect()
    pdf = generate_pandas(n_convs=30, make_skewed=True)
    return rows, pdf


class TestFrameParity:
    def test_every_turn_equals_oracle(self, result):
        rows, pdf = result
        _assert_frame_equals_oracle(rows, pdf)

    def test_golden_turn(self, result):
        rows, _ = result
        r = next(x for x in rows if x.conv_id == GOLDEN_CONV and x.turn_idx == 0)
        assert r.clean_text == GOLDEN_TEXT
        assert len(r.spans) == 1

    def test_blank_turn_present_with_empty_text(self, result):
        # Negative control: blank turn yields a ROW with '' and [] —
        # not a missing row (test_pipeline.py:9-12 analog).
        rows, _ = result
        r = next(x for x in rows if x.conv_id == BLANK_CONV and x.turn_idx == 0)
        assert r.clean_text == "" and list(r.spans) == []

    def test_multi_region_document_order(self, result):
        rows, _ = result
        r = next(x for x in rows if x.conv_id == MULTI_CONV)
        assert r.clean_text == MULTI_TEXT
        starts = [s.start for s in r.spans]
        assert starts == sorted(starts)

    def test_skewed_conversation_complete(self, result):
        # 700-turn conversation survives salting with every turn intact.
        rows, pdf = result
        got = sorted(x.turn_idx for x in rows if x.conv_id == SKEW_CONV)
        want = sorted(pdf[pdf.conv_id == SKEW_CONV].turn_idx.tolist())
        assert got == want and len(got) == 700


class TestSaltInvariance:
    def test_salting_does_not_change_results(self, spark):
        df = spark_transcripts(spark, n_convs=5, make_skewed=False)
        plain = extract(df, n_salt=0).orderBy("conv_id", "turn_idx").collect()
        salted = extract(df, n_salt=16).orderBy("conv_id", "turn_idx").collect()
        assert [(r.conv_id, r.turn_idx, r.clean_text) for r in plain] == [
            (r.conv_id, r.turn_idx, r.clean_text) for r in salted
        ]


class TestDecodeChainParity:
    """JVM decode chain (functions/text.py) ≡ Python decoder — on nasty
    randomized markup fragments, not just fixtures."""

    def test_randomized_fragments(self, spark):
        rng = random.Random(42)
        atoms = [
            "<p>", "</p>", "<a href='/x'>", "</a>", "<br/>", "< notatag",
            "word", "two words", "&amp;", "&lt;", "&gt;", "&quot;", "&#39;",
            "&nbsp;", "&amp;lt;", "&amp;amp;", " ", "\t", "\n", "\r\n",
            "  double  spaces  ", "", "x", "<>", "<!-- c -->", "a<b",
            # Whitespace str.strip() removes but Spark's trim() does not.
            "\u3000", "\u00a0", "\x0c", "\x0b", "\x1f",
            # Unclosed '<' runs: the tag strip applies only up to the last '>'.
            "<<<<", "<" * 40, "x < y ", "x < y x < y ",
            # Multi-byte and non-BMP: the split counts characters, not bytes.
            "\u00e9\U0001f600",
        ]
        fragments = ["".join(rng.choice(atoms) for _ in range(rng.randint(0, 12))) for _ in range(500)]
        sdf = spark.createDataFrame([(f,) for f in fragments], "frag string")
        got = [r.clean for r in sdf.select(decode_expr(F.col("frag")).alias("clean")).collect()]
        want = [decode_text(f) for f in fragments]
        assert got == want
