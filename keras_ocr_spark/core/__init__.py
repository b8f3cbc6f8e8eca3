"""Pure-Python extraction core — shared verbatim by the Spark UDFs and
the local parity oracle (parity by construction; see SURVEY.md §7 step 0).
"""

from .decoder import ENTITIES, decode_text
from .oracle import TurnExtraction, extract_turn
from .proposal import Span, propose_spans
from .scoring import link_ratio, score_node
from .tokenizer import BOILERPLATE_TAGS, Node, tokenize

__all__ = [
    "ENTITIES",
    "BOILERPLATE_TAGS",
    "Node",
    "Span",
    "TurnExtraction",
    "decode_text",
    "extract_turn",
    "link_ratio",
    "propose_spans",
    "score_node",
    "tokenize",
]
