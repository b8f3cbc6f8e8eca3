"""JVM-side text decode expression — the JVM twin of the span decoder.

Re-expresses ``keras_ocr_spark.core.decoder.decode_text`` as built-in
Catalyst expressions (whole-stage-codegen'd, no Python worker), for
plans that decode markup columns without a Python boundary (the
``decode_chain`` query):

    strip tags        regexp_replace(head, '<[^>]*>', '') || tail, where
                      tail = substring_index(s, '>', -1) is the text
                      after the last '>' (no '<' there opens a tag) and
                      head the rest: Java's regex would otherwise scan
                      to the end of ``s`` from every unclosed '<'
    decode entities   replace(...) chain in ENTITIES order (&amp; LAST)
    collapse ws       regexp_replace(s, '[ \\t\\r\\n]+', ' ')
    strip             regexp_replace(s, '^[ws]+|[ws]+$', '') over the
                      code points ``str.isspace()`` accepts — what
                      ``str.strip()`` removes (``trim`` removes only
                      U+0020)

The parity suite (``tests/test_parity.py``) asserts this chain equals the
pure-Python decoder on fixtures + randomized inputs — the graft analog of
the Keras-vs-PyTorch agreement test
(``/root/reference/tests/test_pytorch_keras.py:21-49``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..core.decoder import ENTITIES

TAG_PATTERN = r"<[^>]*>"
WS_PATTERN = r"[ \t\r\n]+"
#: The 29 code points for which ``str.isspace()`` is true, as ``\x{..}``
#: escapes — a syntax both Java regex and RE2 (DuckDB) accept.
PY_SPACE_CLASS = (
    r"[\x{9}-\x{d}\x{1c}-\x{20}\x{85}\x{a0}\x{1680}\x{2000}-\x{200a}"
    r"\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)
#: ``str.strip()``: one class anchored on both ends.
STRIP_PATTERN = rf"^{PY_SPACE_CLASS}+|{PY_SPACE_CLASS}+$"


def decode_expr(col: Column) -> Column:
    """Markup fragment column -> clean text column (all JVM built-ins).

    Each rewrite is GUARDED by a cheap containment test: most spans have
    no tags/entities/collapsible whitespace, and skipping the rewrite
    avoids one string allocation per step per row (a large share of GC
    pressure at scale). The guards are semantic identities — a rewrite
    with zero matches returns an equal string — so parity with the
    Python decoder is unchanged (asserted on randomized fragments in
    tests/test_parity.py).
    """
    tail = F.substring_index(col, ">", -1)
    head = col.substr(F.lit(1), F.length(col) - F.length(tail))
    s = F.when(col.contains("<"), F.concat(F.regexp_replace(head, TAG_PATTERN, ""), tail)).otherwise(col)
    decoded = s
    for entity, char in ENTITIES:
        decoded = F.replace(decoded, F.lit(entity), F.lit(char))
    s = F.when(s.contains("&"), decoded).otherwise(s)
    # Single spaces collapse to themselves: rewrite only if a tab/CR/LF
    # or a double space is present.
    s = F.when(s.rlike("[\t\r\n]|  "), F.regexp_replace(s, WS_PATTERN, " ")).otherwise(s)
    return F.regexp_replace(s, STRIP_PATTERN, "")
