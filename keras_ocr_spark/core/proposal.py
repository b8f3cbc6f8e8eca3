"""Stage-1 span proposal: threshold -> run-length components -> filters.

1-D recast of the reference's ``getBoxes`` post-processing
(``/root/reference/keras_ocr/detection.py:207-287``):

reference (2-D pixel grid)                 | here (1-D node sequence)
-------------------------------------------|---------------------------
binary threshold of text/link maps (:221)  | node qualifies if score >=
                                           | text_threshold; a link node
                                           | (link_ratio > link_threshold)
                                           | may *connect* runs
connectedComponentsWithStats (:227-229)    | maximal runs of qualifying /
                                           | connector nodes (run-length
                                           | grouping)
area < size_threshold culling (:233-236)   | sum of visible chars >=
                                           | size_threshold
max(textmap) < detection_threshold (:238)  | max node score >=
                                           | detection_threshold
dilation + minAreaRect (:257-285)          | span = (min start, max end)
                                           | +- dilate, clipped
leading/trailing connector trim            | analog of ``_strip_line``
                                           | (data_generation.py:159-184)

Pure Python, no deps — this exact module is imported by the Spark UDF and
by the single-process oracle, so parity is by construction (model:
``tests/test_pytorch_keras.py:21-49`` cross-implementation agreement).
"""

from __future__ import annotations

from typing import Iterable, List, NamedTuple

from ..config import DEFAULT_CONFIG, ExtractionConfig
from .scoring import score_and_ratio


class Span(NamedTuple):
    """A proposed content region: char offsets into the original raw text
    (1-D analog of a (4,2) detection box, ``detection.py:273-285``)."""

    start: int
    end: int
    score: float
    n_nodes: int


def propose_spans(
    nodes: Iterable[tuple],
    raw_len: int,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
) -> List[Span]:
    """Group qualifying nodes into content spans, in one pass.

    ``nodes`` is any iterable of tuples in ``Node``'s field order: a
    ``tokenize`` list, or the ``scan_nodes`` stream that
    ``core.oracle.extract_turn`` groups as the scan produces it (this
    routine reads only ``start``, ``end``, ``tlen``, ``link_len`` and
    ``boiler``).

    A node *seeds* a region if ``score >= text_threshold`` and its link
    ratio is ``<= link_threshold``. A link-heavy node with a nonzero score
    is a *connector*: it can sit between seeds inside one region (the link
    map gluing of ``detection.py:124-192``) but is trimmed from the edges.
    """
    spans: List[Span] = []
    text_t = cfg.text_threshold
    link_t = cfg.link_threshold
    max_run = cfg.max_connector_run
    # The open region runs from its first seed to its last: ``first`` is
    # None while it holds no seed, so leading connectors are trimmed (cf.
    # _strip_line, data_generation.py:159-184). Connectors after the last
    # seed are held in ``held_*`` until a seed confirms them; a region
    # that ends first drops them (the trailing-connector trim).
    # ``held_best`` is the best score up to the last held connector.
    first = None
    last_end = total = n_nodes = held_n = held_total = 0
    best = held_best = 0.0
    streak = 0  # consecutive connectors
    for _, _, start, end, tlen, link_len, boiler in nodes:
        score, ratio = score_and_ratio(tlen, link_len, boiler)
        if score >= text_t and ratio <= link_t:  # seed
            if first is None:
                first, total, n_nodes, best = start, tlen, 1, score
            else:
                total += held_total + tlen
                n_nodes += held_n + 1
                best = score if score > held_best else held_best
            last_end = end
            held_best = best
            held_n = held_total = streak = 0
            continue
        if (not boiler) and ratio > link_t and tlen > 0:  # connector
            streak += 1
            if streak <= max_run:
                if first is not None:
                    held_n += 1
                    held_total += tlen
                    if score > held_best:
                        held_best = score
                continue
            # Link farm: >max_connector_run consecutive link nodes break
            # the component.
        else:
            streak = 0
        if first is not None:
            _close(spans, first, last_end, total, best, n_nodes, raw_len, cfg)
            first = None
    if first is not None:
        _close(spans, first, last_end, total, best, n_nodes, raw_len, cfg)
    return spans


def _close(
    spans: List[Span],
    first: int,
    last_end: int,
    total: int,
    best: float,
    n_nodes: int,
    raw_len: int,
    cfg: ExtractionConfig,
) -> None:
    """Keep a finished region if it passes the size and detection
    filters, as a span dilated by ``cfg.dilate`` and clipped to the
    text."""
    if total >= cfg.size_threshold and best >= cfg.detection_threshold:  # detection.py:233-241
        start = max(0, first - cfg.dilate)  # detection.py:257-270
        spans.append(Span(start=start, end=min(raw_len, last_end + cfg.dilate), score=best, n_nodes=n_nodes))
