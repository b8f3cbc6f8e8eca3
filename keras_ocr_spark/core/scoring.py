"""Stage-1 node scoring: text-density / link-density / tag-path heuristics.

Graft analog of the CRAFT forward pass (``/root/reference/keras_ocr/
detection.py:779`` producing per-pixel text/link score maps): here each
DOM text node gets a content score in [0, 1] from three deterministic
signals, so the downstream thresholding/grouping
(``core.proposal.propose_spans``) can mirror ``getBoxes``
(``detection.py:207-287``) exactly.

Scores are floats, but every comparison downstream is a plain ``>=``
against a constant threshold and the same pure function runs inside the
Spark pandas UDF and the local oracle, so cross-engine equality is by
construction (same code, same arithmetic).
"""

from __future__ import annotations

#: Density soft-knee: a node reaches score 0.5 (before penalties) at this
#: many visible characters. Analog of the gaussian heatmap spread
#: (``detection.py:55-62``) — longer text, stronger evidence, saturating.
DENSITY_KNEE = 15

#: How strongly link-dominated text is discounted (link farms score low).
LINK_PENALTY = 0.8


def score_and_ratio(tlen: int, link_len: int, boiler: bool) -> tuple:
    """(content score in [0, 1], link ratio) for one node, given its
    ``tlen``, ``link_len`` and ``boiler`` fields, in one pass: the hot
    loop needs both, and they share the division. This is the single
    source of the scoring arithmetic."""
    ratio = link_len / tlen if tlen else 0.0
    if boiler:
        return 0.0, ratio
    return (tlen / (tlen + DENSITY_KNEE)) * (1.0 - LINK_PENALTY * ratio), ratio
