"""Stages 2+3 as the plan sees them: one per-row projection.

Stage 1 (``operators/detect.py``) already returns each turn's clean text
and kept spans — decode, blank drop and ordered join all run in
``core.oracle.extract_turn`` inside the stage-1 UDF. What is left is to
pick the output columns, which keeps the whole pipeline map-only:
scan -> stage-1 Arrow UDF -> this projection. Zero exchanges; scales
exactly like the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def decode_reassemble_fused(detected: DataFrame) -> DataFrame:
    """detect() output -> (conv_id, turn_idx, clean_text, spans), per-row.

    Zero-span and all-blank turns yield ``clean_text=''`` and
    ``spans=[]`` — a row, never a missing turn."""
    return detected.select("conv_id", "turn_idx", "clean_text", "spans")
