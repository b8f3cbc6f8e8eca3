"""End-to-end extraction plan — the graft's ``Pipeline.recognize``.

Orchestrates the reference's stages (``/root/reference/keras_ocr/
pipeline.py:28-75``: normalize -> batch -> detect -> crop -> recognize ->
rescale -> re-associate) as one lazy, map-only DataFrame plan:

    read -> [salted repartition on conv_id]
         -> stage-1 Arrow UDF: core.oracle.extract_turn per turn
            (propose spans, decode each once, drop blanks, join in
            document order) -> struct<clean_text, spans>
         -> per-row projection of the struct's fields

Physical shape (verified in tests/test_plan_shape.py):
- scan -> one ArrowEvalPython node (an Arrow iterator UDF) ->
  projection. ZERO exchanges — each turn is extracted whole in one
  kernel call, so re-association needs no shuffle. Scales exactly like
  the scan, in batch and in every streaming micro-batch alike
  (streaming/extraction.py runs this same plan);
- the optional salted repartition (skewed input layouts) adds exactly
  one exchange;
- the scan reads only the columns the plan needs (conv_id, turn_idx,
  text) — column pruning reaches the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..operators.detect import detect
from ..operators.fused import decode_reassemble_fused


def extract(df: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG, n_salt: int = 0) -> DataFrame:
    """Transcripts -> (conv_id, turn_idx, clean_text, spans). Map-only.

    Per-turn output equals ``core.oracle.extract_turn`` exactly (parity
    suite: tests/test_parity.py). ``n_salt``>0 adds the explicit salted
    repartition on (conv_id, salt) before stage 1 (north-rule skew
    handling for skewed input layouts; AQE covers the rest at runtime).
    """
    slim = df.select("conv_id", "turn_idx", "text")
    return decode_reassemble_fused(detect(slim, cfg=cfg, n_salt=n_salt))
