"""Pure-Python extraction core — shared verbatim by the Spark UDFs and
the local parity oracle (parity by construction; see SURVEY.md §7 step 0).
"""

from .decoder import ENTITIES, decode_text
from .oracle import TurnExtraction, extract_turn
from .proposal import Span, propose_spans
from .tokenizer import BOILERPLATE_TAGS, Node, tokenize

__all__ = [
    "ENTITIES",
    "BOILERPLATE_TAGS",
    "Node",
    "Span",
    "TurnExtraction",
    "decode_text",
    "extract_turn",
    "propose_spans",
    "tokenize",
]
