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

from typing import List, NamedTuple, Sequence

from ..config import DEFAULT_CONFIG, ExtractionConfig
from .scoring import score_and_ratio
from .tokenizer import Node


class Span(NamedTuple):
    """A proposed content region: char offsets into the original raw text
    (1-D analog of a (4,2) detection box, ``detection.py:273-285``)."""

    start: int
    end: int
    score: float
    n_nodes: int


def propose_spans(
    nodes: Sequence[Node],
    raw_len: int,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
) -> List[Span]:
    """Group qualifying nodes into content spans.

    A node *seeds* a region if ``score >= text_threshold`` and its link
    ratio is ``<= link_threshold``. A link-heavy node with a nonzero score
    is a *connector*: it can sit between seeds inside one region (the link
    map gluing of ``detection.py:124-192``) but is trimmed from the edges.
    """
    spans: List[Span] = []
    # Run entries carry (node, score, is_seed) — score/ratio computed
    # ONCE per node (the trim + max passes in flush reused to recompute
    # them 2-3x in the hot loop).
    run: List[tuple] = []
    text_t = cfg.text_threshold
    link_t = cfg.link_threshold

    def flush() -> None:
        if not run:
            return
        # Trim leading/trailing connectors (cf. _strip_line,
        # data_generation.py:159-184).
        members = list(run)
        run.clear()
        i, j = 0, len(members)
        while i < j and not members[i][2]:
            i += 1
        while j > i and not members[j - 1][2]:
            j -= 1
        if i >= j:
            return
        members = members[i:j]
        total = sum(m[0].tlen for m in members)
        if total < cfg.size_threshold:  # detection.py:233-236
            return
        best = max(m[1] for m in members)
        if best < cfg.detection_threshold:  # detection.py:238-241
            return
        start = max(0, members[0][0].start - cfg.dilate)  # detection.py:257-270
        end = min(raw_len, members[-1][0].end + cfg.dilate)
        spans.append(Span(start=start, end=end, score=best, n_nodes=len(members)))

    connector_streak = 0
    for node in nodes:
        score, ratio = score_and_ratio(node)
        if score >= text_t and ratio <= link_t:  # seed
            run.append((node, score, True))
            connector_streak = 0
        elif (not node.boiler) and ratio > link_t and node.tlen > 0:  # connector
            connector_streak += 1
            if connector_streak > cfg.max_connector_run:
                # Link farm: >max_connector_run consecutive link nodes
                # break the component (edge connectors trimmed in flush).
                flush()
            else:
                run.append((node, score, False))
        else:
            flush()
            connector_streak = 0
    flush()
    return spans
