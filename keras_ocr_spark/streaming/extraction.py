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
- the sink is IDEMPOTENT: each micro-batch overwrites its own
  ``epoch_id=N`` partition, so a replayed batch (failure between write
  and offset commit) rewrites the same files instead of appending
  duplicates — end-to-end exactly-once at the file level;
- a watermarked windowed count stream is exposed for monitoring
  (late-data handling: 10-minute watermark on ``ts``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..plans.pipeline import extract
from ..sources.transcripts import TRANSCRIPT_SCHEMA


def read_transcript_stream(spark, path: str, max_files_per_trigger: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def epoch_sink(batch_df: DataFrame, epoch_id: int, out_dir: str) -> None:
    """Idempotent per-epoch sink: a replayed micro-batch overwrites its
    own epoch partition instead of appending a duplicate copy."""
    batch_df.write.mode("overwrite").parquet(f"{out_dir}/epoch_id={epoch_id}")


def start_extraction(
    stream_df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
):
    """Run the full pipeline as a stream with an exactly-once parquet
    sink: foreachBatch alone is at-least-once (a batch replayed after a
    failure between write and offset commit would append again), so each
    epoch writes to its own ``epoch_id=N`` partition with overwrite —
    replays rewrite the same path idempotently. Readers see ``epoch_id``
    as an extra partition column (drop or prune it)."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        epoch_sink(batch_df, epoch_id, out_dir)

    return (
        extract(stream_df, cfg).writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def turn_rate_monitor(stream_df: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Watermarked windowed turn counts (late-data-tolerant monitoring)."""
    return (
        stream_df.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "role")
        .agg(F.count("*").alias("n_turns"))
    )
