"""Streaming ingestion into the versioned snapshot table: one version
per micro-batch, EXACTLY once each — a replayed batch_id must not fork
history, and a crash between data write and manifest commit must leave
the replay able to land. No oracle query (the contract is a streaming
side effect); pinned here end-to-end."""

import os

import pytest

from keras_ocr_spark.sources.snapshots import history, read_snapshot
from keras_ocr_spark.streaming.snapshot_sink import (
    snapshot_batch_sink,
    start_snapshot_ingest,
)


@pytest.fixture()
def landing(spark, tmp_path):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = str(tmp_path / "landing")
    docs.repartition(3).write.parquet(src)
    return src


class TestSnapshotIngest:
    def test_stream_versions_union_to_batch(self, spark, landing, tmp_path):
        table = str(tmp_path / "table")
        q = start_snapshot_ingest(
            spark.readStream.schema(
                spark.read.parquet(landing).schema
            ).option("maxFilesPerTrigger", "1").parquet(landing),
            table,
            str(tmp_path / "ckpt"),
        )
        q.awaitTermination(120)
        h = history(table)
        assert len(h) >= 2  # maxFilesPerTrigger=1 over 3 files
        assert [m["version"] for m in h] == list(range(1, len(h) + 1))
        assert all("batch_id" in m for m in h)
        total = sum(m["n_rows"] for m in h)
        assert total == spark.read.parquet(landing).count()
        # versions are disjoint slices: union of all == the batch input
        ids = set()
        for m in h:
            for r in read_snapshot(spark, table, m["version"]).select("doc_id").collect():
                assert r.doc_id not in ids
                ids.add(r.doc_id)
        assert len(ids) == total

    def test_replayed_batch_id_is_noop(self, spark, landing, tmp_path):
        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        snapshot_batch_sink(df, 0, table)
        assert [m["version"] for m in history(table)] == [1]
        snapshot_batch_sink(df, 0, table)  # replay: same batch_id
        assert [m["version"] for m in history(table)] == [1]
        snapshot_batch_sink(df, 1, table)  # genuinely new batch
        assert [m["version"] for m in history(table)] == [1, 2]

    def test_crash_orphan_is_cleaned_and_replay_lands(self, spark, landing, tmp_path):
        from pathlib import Path

        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        snapshot_batch_sink(df, 0, table)
        # simulate: batch 1 crashed after writing data, before manifest
        orphan = Path(table) / "data" / "v2"
        df.limit(2).write.parquet(str(orphan))
        snapshot_batch_sink(df.limit(3), 1, table)  # the replay
        h = history(table)
        assert [m["version"] for m in h] == [1, 2]
        assert h[1]["batch_id"] == 1
        assert read_snapshot(spark, table, 2).count() == 3  # replay's data, not the orphan's

    def test_kill_after_first_publish_leaves_no_phantom_version(self, spark, landing, tmp_path, monkeypatch):
        """The sink's first manifest publish is its commit: killed right
        after it, the replay of the same batch must be a no-op, leaving
        exactly one version, and that version carries the batch_id."""

        class Killed(Exception):
            pass

        real_replace = os.replace

        def replace_then_die(src, dst):
            real_replace(src, dst)
            raise Killed

        table = str(tmp_path / "table")
        df = spark.read.parquet(landing).limit(5)
        monkeypatch.setattr(os, "replace", replace_then_die)
        with pytest.raises(Killed):
            snapshot_batch_sink(df, 0, table)
        monkeypatch.setattr(os, "replace", real_replace)

        snapshot_batch_sink(df, 0, table)  # the replay
        assert [(m["version"], m.get("batch_id")) for m in history(table)] == [(1, 0)]
