"""Stage-2 span decoding: crop -> strip tags -> decode entities -> collapse.

Graft analog of the CRNN/CTC decode (``/root/reference/keras_ocr/
recognition.py:169-184, 483-488, 527-536``):

CTC step                                   | here
-------------------------------------------|---------------------------
crop region (``tools.warpBox``,            | ``text[start:end]`` — span
``tools.py:61-117``)                       | crop is substring in 1-D
collapse repeated symbols                  | collapse whitespace runs to
                                           | a single space
drop blank label                           | strip markup tags, drop
                                           | empty results
index -> alphabet char map                 | HTML entity -> char map

``core.oracle.extract_turn`` calls ``decode_text`` once per proposed
span and drops the spans that decode to empty; the stage-1 Arrow UDF
runs that same function, so the extraction pipeline decodes in the
Python worker with this module itself.
The tag strip is ``tokenizer.strip_tags``, built on the tokenizer's
own linear-time tag scanner, so the decoder and the tokenizer agree on
what a tag is, and an unclosed ``<`` costs one pass, not a rescan to
the end of the span.
CRITICAL parity contract: its JVM twin re-expresses the chain as
built-ins (``regexp_replace``/``replace`` — see
``keras_ocr_spark/functions/text.py``, used by the ``decode_chain``
query) and MUST stay step-for-step identical to this module, down to
``str.strip()``'s set of whitespace; ``tests/test_parity.py`` asserts
equality on fixtures and randomized inputs. Entity order matters:
``&amp;`` is decoded LAST so ``&amp;lt;`` -> ``&lt;`` (literal), never ``<``.
"""

from __future__ import annotations

from typing import Tuple

from .tokenizer import WS_RE, strip_tags

#: (entity, char) in APPLICATION ORDER — ``&amp;`` last.
ENTITIES: Tuple[Tuple[str, str], ...] = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)


def decode_text(fragment: str) -> str:
    """Markup fragment -> clean text (the pure scalar core shared by the
    oracle and the Spark expression chain).

    Hot-loop fast paths (exactly the semantics of the unconditional
    chain, asserted by the randomized parity suite): tag strip only when
    a ``<`` exists, entity decode only when a ``&`` exists, and the
    ASCII-whitespace collapse only when a run that would actually
    collapse exists (same containment test as
    ``tokenizer._visible_len``; the order — tags, entities, collapse —
    is unchanged, so an ``&nbsp;&nbsp;`` still produces the double
    space the collapse check then catches)."""
    s = strip_tags(fragment) if "<" in fragment else fragment
    if "&" in s:
        for entity, char in ENTITIES:
            s = s.replace(entity, char)
    if "  " in s or "\t" in s or "\r" in s or "\n" in s:
        s = WS_RE.sub(" ", s)
    return s.strip()

