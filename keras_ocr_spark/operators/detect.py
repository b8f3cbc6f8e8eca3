"""Stage 1 — distributed span proposal, decode and reassembly (the
"detector" and "recognizer" in one Python pass).

Graft analog of ``Detector.detect`` (``/root/reference/keras_ocr/
detection.py:745-785``) followed by the per-crop decode of
``Recognizer.recognize_from_boxes`` (``recognition.py:491-537``): for
each turn, propose content regions, decode each region's markup to
clean text, drop the blank ones and join the rest in document order.
All of it is one call of the shared pure-Python kernel,
``core.oracle.extract_turn``, per turn, inside one Arrow iterator UDF —
one Python worker call per Arrow batch, never per row at the Spark API
layer (the batch-vectorization strategy of ``model.predict`` over a
whole batch, ``detection.py:779``). The UDF reads the batch with
``to_pylist()`` and builds its Arrow output from flat Python lists, so
no pandas object sits on either side of the boundary.

Scale notes:
- the UDF consumes ONLY the ``text`` column (column pruning: everything
  else stays JVM-side, cf. the reference's RGB->gray channel pruning,
  ``recognition.py:429-434``) and returns only what the plan reads —
  the clean text and the kept span offsets per turn;
- per-record cost is bounded by ``cfg.max_len`` BEFORE tokenization (the
  ``max_size`` cap, ``pipeline.py:45-47``) — the first defense against
  pathological turns;
- the optional salted repartition spreads hot ``conv_id``s across
  partitions before the map stage (north-rule skew handling).
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from .. import zipguard
from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..core.oracle import extract_turn

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.IntegerType(), False),
            T.StructField("end", T.IntegerType(), False),
        ]
    ),
    False,
)
TURN_TYPE = T.StructType(
    [
        T.StructField("clean_text", T.StringType(), False),
        T.StructField("spans", SPAN_TYPE, False),
    ]
)


def propose_spans_udf(cfg: ExtractionConfig = DEFAULT_CONFIG):
    """Arrow iterator UDF: text -> struct<clean_text, spans: array<struct<start,end>>>.

    Iterator form (``Iterator[pa.Array] -> Iterator[pa.Array]``): the
    per-task setup runs once per task, then every Arrow batch streams
    through the same loop (the ``model.predict``-over-batches pattern of
    ``detection.py:698-743``; also where a heavyweight model/tokenizer
    would be loaded once per executor). The setup installs
    ``zipguard``, as every package UDF's first statement does, so a
    reused worker stops re-reading the zip directories on its path at
    every later task. Per turn the loop runs
    exactly ``extract_turn``; the output is built from flat lists (one
    offsets list, one start and one end list per batch).
    """
    turn_type = to_arrow_type(TURN_TYPE)
    span_type = turn_type.field("spans").type
    span_fields = list(span_type.value_type)

    @F.arrow_udf(TURN_TYPE)
    def _extract(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()
        _extract_turn = extract_turn
        for texts in batches:
            clean, offsets, starts, ends = [], [0], [], []
            for raw in texts.to_pylist():
                turn = _extract_turn(raw, cfg)
                clean.append(turn.clean_text)
                for span in turn.spans:
                    starts.append(span.start)
                    ends.append(span.end)
                offsets.append(len(starts))
            spans = pa.ListArray.from_arrays(
                pa.array(offsets, pa.int32()),
                pa.StructArray.from_arrays(
                    [pa.array(starts, pa.int32()), pa.array(ends, pa.int32())], fields=span_fields
                ),
                type=span_type,
            )
            yield pa.StructArray.from_arrays([pa.array(clean, pa.string()), spans], fields=list(turn_type))

    return _extract


def salt_expr(n_salt: int) -> Column:
    """Deterministic salt from turn_idx: spreads one hot conv_id over
    ``n_salt`` shuffle buckets (north-rule: salted repartition on conv_id)."""
    return F.pmod(F.col("turn_idx"), F.lit(n_salt)).alias("salt")


def detect(df: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG, n_salt: int = 0) -> DataFrame:
    """Add ``clean_text`` and ``spans`` columns to a transcript DataFrame:
    two field projections of the stage-1 UDF's struct.

    ``n_salt`` > 0 applies the salted repartition on (conv_id, salt) so a
    skewed conversation's turns land in many partitions instead of one.
    """
    if n_salt > 0:
        df = df.repartition(F.col("conv_id"), salt_expr(n_salt))
    turn = propose_spans_udf(cfg)(F.col("text"))
    return df.select("*", turn["clean_text"].alias("clean_text"), turn["spans"].alias("spans"))
