"""split_sentences: values driver-attested (`sentence_split`). These
pin golden segmentation cases, the raw-position index semantics, the
map-only plan, and the Python UDTF twin (§2.10 API surface) equal to
the JVM hot path."""

import pytest

from keras_ocr_spark.operators.textstats import SENTENCE_RE, split_sentences


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "One. Two! Three? Four"),
        (2, "No terminator at all"),
        (3, "Multi!!  Spaces.   End"),
        (4, ""),
        (5, "..."),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


class TestSplitSentences:
    def test_golden(self, spark, docs):
        got = {
            (r.doc_id, r.sent_idx): r.sentence
            for r in split_sentences(docs).collect()
        }
        assert got[(1, 1)] == "One." and got[(1, 4)] == "Four"
        assert got[(2, 1)] == "No terminator at all"
        # 'Multi!!' -> 'Multi!' then piece '!' cannot match ([^.!?]+
        # required); whitespace-only pieces are dropped AFTER indexing.
        assert got[(3, 1)] == "Multi!" and got[(3, 2)] == "Spaces." and got[(3, 3)] == "End"
        assert not any(k[0] in (4, 5) for k in got)

    def test_map_only_plan(self, spark):
        df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = split_sentences(df)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "EvalPython" not in plan

    def test_udtf_twin_matches_jvm_path(self, spark, docs):
        # §2.10: the same segmentation as a Python UDTF — the
        # API-surface demo; the JVM expression form is the hot path
        # (the UDTF pays an Arrow/pickle boundary for identical rows).
        import re

        from pyspark.sql.functions import udtf

        @udtf(returnType="sent_idx bigint, sentence string")
        class SentenceUdtf:
            def eval(self, text: str):
                if text is None:
                    return
                for i, m in enumerate(re.findall(SENTENCE_RE, text), start=1):
                    s = m.strip()
                    if s:
                        yield i, s

        spark.udtf.register("sentence_udtf", SentenceUdtf)
        docs.createOrReplaceTempView("docs_v")
        got = {
            (r.doc_id, r.sent_idx, r.sentence)
            for r in spark.sql(
                "SELECT d.doc_id, t.sent_idx, t.sentence "
                "FROM docs_v d, LATERAL sentence_udtf(d.text) t"
            ).collect()
        }
        want = {
            (r.doc_id, r.sent_idx, r.sentence)
            for r in split_sentences(docs).collect()
        }
        assert got == want
