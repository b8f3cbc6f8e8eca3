"""Structured Streaming extraction: the batch ``extract()`` plan run per
micro-batch over a transcript stream, committed once per epoch
(``extraction``)."""

from .extraction import read_transcript_stream, start_extraction

__all__ = [
    "read_transcript_stream",
    "start_extraction",
]
