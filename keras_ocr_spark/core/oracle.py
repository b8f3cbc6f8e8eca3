"""The per-turn kernel: the whole detect-then-extract flow on one turn,
no Spark.

Graft analog of ``Pipeline.recognize`` (``/root/reference/keras_ocr/
pipeline.py:28-75``) run sequentially. It is both the reference oracle
and the production kernel: the stage-1 Arrow UDF
(``operators/detect.py``) calls ``extract_turn`` for every turn, so the
Spark pipeline (``keras_ocr_spark.plans.pipeline``) equals it per turn
by construction. The parity suite still checks the Spark plumbing
around it (nulls, ``max_len``, row identity, non-BMP text through Arrow)
— the cross-implementation contract modeled on
``tests/test_pytorch_keras.py:21-49`` (there 1e-4 float tolerance; here
exact string equality because every transform is integer/string).
"""

from __future__ import annotations

from typing import List, NamedTuple

from ..config import DEFAULT_CONFIG, ExtractionConfig
from .decoder import decode_text
from .proposal import Span, propose_spans
from .tokenizer import tokenize


class TurnExtraction(NamedTuple):
    clean_text: str
    spans: List[Span]


def extract_turn(raw: str, cfg: ExtractionConfig = DEFAULT_CONFIG) -> TurnExtraction:
    """Full per-turn extraction: truncate-cap -> tokenize -> score ->
    propose -> decode -> reassemble.

    The ``max_len`` cap mirrors ``max_size`` bounding in
    ``pipeline.py:45-47`` — worst-case per-record cost is bounded before
    any expensive work. Each span is decoded once: a span that decodes
    to empty is dropped (blank-label drop, ``recognition.py:483-488``),
    so ``spans`` matches the pieces of ``clean_text`` 1:1, and the
    pieces are newline-joined in document order (analog of
    ``convert_lines_to_paragraph``, ``data_generation.py:273-276``).
    """
    capped = (raw or "")[: cfg.max_len]
    pieces: List[str] = []
    kept: List[Span] = []
    for span in propose_spans(tokenize(capped), len(capped), cfg):
        piece = decode_text(capped[span.start : span.end])
        if piece:
            pieces.append(piece)
            kept.append(span)
    return TurnExtraction(clean_text="\n".join(pieces), spans=kept)
