"""Structured Streaming extraction: the batch ``extract()`` plan run per
micro-batch over a transcript stream, committed once per epoch
(``extraction``), and the idempotent per-epoch snapshot sink
(``snapshot_sink``)."""

from .extraction import read_transcript_stream, start_extraction, turn_rate_monitor

__all__ = [
    "read_transcript_stream",
    "start_extraction",
    "turn_rate_monitor",
]
