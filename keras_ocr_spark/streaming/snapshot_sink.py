"""Streaming ingestion into the versioned snapshot table — with
exactly-once VERSION commits.

``foreachBatch`` is at-least-once: a micro-batch replayed after a
failure between the sink's write and the offset commit runs the sink
AGAIN with the same ``batch_id``. For a plain append that means
duplicate rows; for a versioned table it is worse — a duplicate
COMMIT, forking history with a phantom version. The fix is the
standard idempotent-sink contract: the sink must be a no-op for a
``batch_id`` it has already committed.

Implementation: the sink commits each batch through the snapshot
module's protocol (``plans.observe.commit``: data first, one atomic
manifest last), and that single manifest carries the ``batch_id``. On
entry the sink scans the table history (tiny — manifests only) and
returns immediately when the batch_id is already present. There is no
moment at which a version is visible without its ``batch_id``, so a kill
anywhere leaves either a committed version the replay skips, or an
orphan data dir with NO manifest. Version numbering comes from
manifests, so the replay gets the orphan's number; it overwrites that
dir (the sink is the table's only writer, per foreachBatch's
single-active-query contract, and committed data always has a
manifest) and commits once.

Scale shape: per micro-batch one write job (audit metrics ride it via
Observation) plus a manifest-dir listing; state is the manifest dir
itself — no extra store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.snapshots import _commit_version, history


def snapshot_batch_sink(batch_df: DataFrame, batch_id: int, table_dir: str) -> None:
    """Idempotent foreachBatch sink: commit ``batch_df`` as the next
    snapshot version, exactly once per ``batch_id``."""
    if any(m.get("batch_id") == batch_id for m in history(table_dir)):
        return  # replayed batch: already committed, no-op
    _commit_version(batch_df, table_dir, mode="overwrite", batch_id=batch_id)


def start_snapshot_ingest(stream_df: DataFrame, table_dir: str, checkpoint_dir: str):
    """Run a stream into the versioned table: one snapshot version per
    micro-batch, exactly once each."""
    return (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: snapshot_batch_sink(df, bid, table_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
