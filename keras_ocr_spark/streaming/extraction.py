"""Structured Streaming variant of the extraction pipeline.

The reference is batch-only (SURVEY.md §2.9): its closest streaming
artifacts are infinite generators (``data_generation.py:577-726``) and
micro-batching (``detection.py:698-743``). This module makes the graft
stream-capable anyway, because a transcript lakehouse ingests
continuously:

- source: any streaming DataFrame with the transcript schema (file
  stream over the landing zone; Kafka in production — same plan);
- the plan is the batch plan itself (``plans.pipeline.extract``): it is
  map-only and stateless per row, so it runs unchanged under
  micro-batches and a turn never has to arrive whole in one batch;
- the sink is IDEMPOTENT: each micro-batch commits its own
  ``epoch_id=N`` partition through the checkpoint manifest protocol
  (``plans.observe.commit``: data first, then ``_manifests/epoch-N.json``
  carrying ``batch_id`` and the write job's rows/spans/content hash).
  A replayed batch (failure between commit and offset commit) finds its
  manifest and writes nothing; a killed epoch has no manifest, stays
  invisible to ``plans.checkpoint.read_committed`` and is overwritten by
  its replay — end-to-end exactly-once for committed readers.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..plans.checkpoint import MANIFEST_DIR, committed_manifests, manifest_metrics
from ..plans.observe import commit
from ..plans.pipeline import extract
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def epoch_sink(batch_df: DataFrame, epoch_id: int, out_dir: str) -> None:
    """Idempotent per-epoch sink: commit the micro-batch as its own
    ``epoch_id=N`` partition with a manifest carrying ``batch_id``. A
    replay of a committed epoch returns without writing."""
    manifest = f"epoch-{epoch_id}.json"
    if committed_manifests(out_dir, manifest):
        return
    part = f"epoch_id={epoch_id}"
    commit(
        batch_df,
        f"{out_dir}/{part}",
        manifest_metrics(),
        lambda audit: {
            Path(out_dir, MANIFEST_DIR, manifest): {"status": "complete", "batch_id": epoch_id, "path": part, **audit}
        },
    )


def start_extraction(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
):
    """Run the full pipeline as a stream with an exactly-once parquet
    sink: foreachBatch alone is at-least-once (a batch replayed after a
    failure between write and offset commit would append again), so each
    epoch commits its own ``epoch_id=N`` partition and manifest through
    :func:`epoch_sink`, and a replay of a committed epoch is a no-op.
    ``plans.checkpoint.read_committed(spark, out_dir)`` reads the
    committed epochs; ``epoch_id`` is an extra partition column (drop or
    prune it)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_sink(batch_df, epoch_id, out_dir)

    return (
        extract(stream_df, cfg).writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
