"""Stage 1 — distributed span proposal + decode (the "detector" and
"recognizer" in one Python pass).

Graft analog of ``Detector.detect`` (``/root/reference/keras_ocr/
detection.py:745-785``) followed by the per-crop decode of
``Recognizer.recognize_from_boxes`` (``recognition.py:491-537``): for
each turn, propose content regions, then decode each region's markup to
clean text. The heavy lift (HTML tokenization + node scoring +
run-length components + span decode) runs the *shared pure-Python core*
inside one Arrow-vectorized pandas UDF — one Python worker call per
Arrow batch, never per row at the Spark API layer (the
batch-vectorization strategy of ``model.predict`` over a whole batch,
``detection.py:779``). The blank-span drop and ordered join happen
JVM-side in ``operators/fused.py``.

Scale notes:
- the UDF consumes ONLY the ``text`` column (column pruning: everything
  else stays JVM-side, cf. the reference's RGB->gray channel pruning,
  ``recognition.py:429-434``) and returns only what the plan reads —
  offsets and decoded text per span;
- per-record cost is bounded by ``cfg.max_len`` BEFORE tokenization (the
  ``max_size`` cap, ``pipeline.py:45-47``) — the first defense against
  pathological turns;
- the optional salted repartition spreads hot ``conv_id``s across
  partitions before the map stage (north-rule skew handling).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..core.decoder import decode_text
from ..core.proposal import propose_spans
from ..core.tokenizer import tokenize

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
            # Decoded span text: the SAME pure-Python decoder the oracle
            # uses (core/decoder.decode_text), one C-regex pass in the
            # worker that already holds the string.
            T.StructField("clean", T.StringType(), False),
        ]
    )
)


def propose_spans_udf(cfg: ExtractionConfig = DEFAULT_CONFIG):
    """Vectorized pandas UDF: text -> array<struct<start,end,clean>>.

    Iterator form (``Iterator[pd.Series] -> Iterator[pd.Series]``): the
    per-task setup — closure constants, the kernel binding — happens once
    per Python worker, then every Arrow batch streams through the same
    loop (the ``model.predict``-over-batches pattern of
    ``detection.py:698-743``; also where a heavyweight model/tokenizer
    would be loaded once per executor). Blank decodes are kept here; the
    blank-label drop (``recognition.py:483-488``) is JVM-side in the
    fused stage.
    """
    max_len = cfg.max_len

    @F.pandas_udf(SPAN_TYPE)
    def _propose(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # init-once-per-worker point: bind hot callables to locals.
        _tokenize, _propose_spans, _cfg, _decode = tokenize, propose_spans, cfg, decode_text

        def _one(raw) -> list:
            capped = (raw or "")[:max_len]
            return [
                {
                    "start": s.start,
                    "end": s.end,
                    "clean": _decode(capped[s.start : s.end]),
                }
                for s in _propose_spans(_tokenize(capped), len(capped), _cfg)
            ]

        for texts in batches:
            yield texts.map(_one)

    return _propose


def salt_expr(n_salt: int) -> Column:
    """Deterministic salt from turn_idx: spreads one hot conv_id over
    ``n_salt`` shuffle buckets (north-rule: salted repartition on conv_id)."""
    return F.pmod(F.col("turn_idx"), F.lit(n_salt)).alias("salt")


def detect(df: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG, n_salt: int = 0) -> DataFrame:
    """Add a ``spans`` column to a transcript DataFrame.

    ``n_salt`` > 0 applies the salted repartition on (conv_id, salt) so a
    skewed conversation's turns land in many partitions instead of one.
    """
    if n_salt > 0:
        df = df.repartition(F.col("conv_id"), salt_expr(n_salt))
    return df.withColumn("spans", propose_spans_udf(cfg)(F.col("text")))
