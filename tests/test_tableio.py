"""`sources.tableio` round trips: ORC is lossless with its filter pushed
to the scan, and `read_jsonl` keeps its malformed-row contract."""

import pytest


class TestOrcRoundtrip:
    def test_lossless_and_filter_pushed(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from keras_ocr_spark.sources.tableio import read_orc, write_orc

        src = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        path = str(tmp_path / "docs_orc")
        write_orc(src, path)
        back = read_orc(spark, path)
        # lossless: same rows, same schema, same content checksum
        assert back.schema == src.schema
        chk = lambda df: df.select(  # noqa: E731
            F.expr(f"bit_xor(xxhash64({', '.join(sorted(df.columns))}))").alias("x")
        ).collect()[0].x
        assert back.count() == src.count() and chk(back) == chk(src)
        # predicate reaches the ORC scan (min/max pushdown works)
        plan = (
            back.filter(F.col("n_chars") >= 100)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "PushedFilters: [IsNotNull(n_chars), GreaterThanOrEqual(n_chars,100)]" in plan


class TestJsonlCorruptRows:
    """read_jsonl's documented malformed-row contract, exercised: in
    PERMISSIVE mode with an explicit schema a corrupt line becomes an
    all-NULL row unless the schema appends _corrupt_record (then the
    raw line is captured there); FAILFAST aborts on the first bad
    line."""

    @pytest.fixture()
    def dirty_path(self, tmp_path):
        p = tmp_path / "dirty.jsonl"
        p.write_text(
            '{"doc_id": 1, "text": "ok one"}\n'
            "{this is not json}\n"
            '{"doc_id": 3, "text": "ok three"}\n'
        )
        return str(p)

    def test_permissive_captures_corrupt_record(self, spark, dirty_path):
        from keras_ocr_spark.sources.tableio import read_jsonl

        df = read_jsonl(
            spark, dirty_path, "doc_id long, text string, _corrupt_record string"
        ).cache()  # Spark requires caching to query _corrupt_record alone
        try:
            bad = df.filter("_corrupt_record IS NOT NULL").collect()
            good = df.filter("_corrupt_record IS NULL").collect()
            assert len(bad) == 1 and bad[0]._corrupt_record.startswith("{this")
            assert sorted(r.doc_id for r in good) == [1, 3]
        finally:
            df.unpersist()

    def test_failfast_aborts(self, spark, dirty_path):
        with pytest.raises(Exception) as ei:
            spark.read.schema("doc_id long, text string").option(
                "mode", "FAILFAST"
            ).json(dirty_path).collect()
        assert "Malformed" in str(ei.value) or "FAILFAST" in str(ei.value)
