"""Stages 2+3: per-row blank drop + ordered reassembly via higher-order
functions.

Stage 1 (``operators/detect.py``) hands over each turn's spans TOGETHER
in one array cell, in document order, each already carrying its decoded
``clean`` text. Re-associating them therefore needs no shuffle and no
aggregation state — one projection per row:

    kept       = filter(spans, d -> length(d.clean) > 0)   -- blank drop
    clean_text = array_join(transform(kept, d -> d.clean), '\n')
    spans      = transform(kept, d -> struct(d.start, d.end))

which keeps the whole pipeline map-only: scan -> stage-1 pandas UDF ->
this projection. Zero exchanges; scales exactly like the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def decode_reassemble_fused(detected: DataFrame) -> DataFrame:
    """detect() output -> (conv_id, turn_idx, clean_text, spans), per-row.

    Zero-span and all-blank turns yield ``clean_text=''`` and
    ``spans=[]`` — a row, never a missing turn."""
    kept = F.filter("spans", lambda d: F.length(d["clean"]) > 0)
    staged = detected.select("conv_id", "turn_idx", kept.alias("_kept"))
    return staged.select(
        "conv_id",
        "turn_idx",
        F.array_join(F.transform("_kept", lambda d: d["clean"]), "\n").alias("clean_text"),
        F.transform("_kept", lambda d: F.struct(d["start"].alias("start"), d["end"].alias("end"))).alias("spans"),
    )
