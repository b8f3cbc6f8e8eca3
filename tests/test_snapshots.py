"""Versioned snapshots: the time-travel read is driver-attested
(`time_travel_read` — v1 read back bit-exact from under v2). These pin
the commit protocol: manifest-as-commit-point, immutability, history
ordering, unknown-version errors, crash-orphan invisibility, and the
manifest's Observation-collected lineage metrics."""

from pathlib import Path

import pytest
from pyspark.sql import functions as F

from keras_ocr_spark.sources.snapshots import history, read_snapshot, write_snapshot


@pytest.fixture()
def docs(spark):
    return spark.read.parquet("/root/testdata/sf0.001/documents.parquet")


class TestSnapshots:
    def test_versions_commit_and_time_travel(self, spark, docs, tmp_path):
        table = str(tmp_path / "t")
        assert write_snapshot(docs, table) == 1
        v2df = docs.filter("doc_id % 2 = 0")
        assert write_snapshot(v2df, table) == 2
        assert read_snapshot(spark, table).count() == v2df.count()  # latest
        old = read_snapshot(spark, table, version=1)
        assert old.count() == docs.count()
        chk = lambda d: d.select(  # noqa: E731
            F.expr(f"bit_xor(xxhash64({', '.join(sorted(d.columns))}))")
        ).collect()[0][0]
        assert chk(old) == chk(docs)  # historical read is bit-exact

    def test_manifest_carries_verified_lineage(self, spark, docs, tmp_path):
        table = str(tmp_path / "t")
        write_snapshot(docs, table)
        (m,) = history(table)
        assert m["n_rows"] == docs.count()
        want = docs.select(
            F.expr(f"bit_xor(xxhash64({', '.join(sorted(docs.columns))}))")
        ).collect()[0][0]
        assert m["content_hash"] == want
        assert m["parent"] is None

    def test_history_order_and_parents(self, spark, docs, tmp_path):
        table = str(tmp_path / "t")
        for _ in range(3):
            write_snapshot(docs.limit(5), table)
        h = history(table)
        assert [m["version"] for m in h] == [1, 2, 3]
        assert [m["parent"] for m in h] == [None, 1, 2]

    def test_unknown_version_and_empty_table_error(self, spark, docs, tmp_path):
        table = str(tmp_path / "t")
        with pytest.raises(ValueError):
            read_snapshot(spark, table)
        write_snapshot(docs.limit(3), table)
        with pytest.raises(ValueError):
            read_snapshot(spark, table, version=9)

    def test_orphan_data_dir_is_invisible(self, spark, docs, tmp_path):
        # A crashed writer leaves data without a manifest: readers and
        # history must not see it, and the next commit takes the next
        # version number from MANIFESTS, not data dirs.
        table = str(tmp_path / "t")
        write_snapshot(docs.limit(3), table)
        orphan = Path(table) / "data" / "v2"
        docs.limit(1).write.parquet(str(orphan))  # crash: no manifest
        assert [m["version"] for m in history(table)] == [1]
        assert read_snapshot(spark, table).count() == 3
        # Next commit is v2 by manifest count — it must REFUSE to
        # overwrite the orphan dir (immutability) rather than clobber.
        with pytest.raises(Exception):
            write_snapshot(docs.limit(2), table)

    def test_half_written_manifest_ignored(self, spark, docs, tmp_path):
        table = str(tmp_path / "t")
        write_snapshot(docs.limit(3), table)
        bad = Path(table) / "_snapshots" / "v2.json"
        bad.write_text('{"version": 2, "path":')  # torn write
        assert [m["version"] for m in history(table)] == [1]
        assert read_snapshot(spark, table).count() == 3


class TestSnapshotChanges:
    def test_cdc_verbs(self, spark, docs, tmp_path):
        from keras_ocr_spark.sources.snapshots import snapshot_changes

        table = str(tmp_path / "cdc")
        base = docs.limit(10).cache()
        write_snapshot(base, table)
        ids = sorted(r.doc_id for r in base.select("doc_id").collect())
        kill, change = ids[0], ids[1]
        v2 = (
            base.filter(F.col("doc_id") != kill)
            .withColumn(
                "text",
                F.when(F.col("doc_id") == change, F.lit("CHANGED")).otherwise(F.col("text")),
            )
            .unionByName(base.limit(1).select(
                F.lit(999999).alias("doc_id"), *[F.col(c) for c in base.columns if c != "doc_id"]
            ).select(base.columns))
        )
        write_snapshot(v2, table)
        got = {r.doc_id: r.change for r in
               snapshot_changes(spark, table, 1, 2, ["doc_id"]).collect()}
        base.unpersist()
        assert got == {kill: "delete", change: "update", 999999: "insert"}

    def test_identical_versions_empty_feed(self, spark, docs, tmp_path):
        from keras_ocr_spark.sources.snapshots import snapshot_changes

        table = str(tmp_path / "cdc2")
        write_snapshot(docs.limit(5), table)
        write_snapshot(docs.limit(5), table)
        assert snapshot_changes(spark, table, 1, 2, ["doc_id"]).count() == 0
