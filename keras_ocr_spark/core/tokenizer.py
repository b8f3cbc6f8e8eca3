"""HTML tokenizer: raw markup -> ordered DOM-ish text nodes.

Graft analog of the reference's image ingestion + CRAFT feature grid: the
raw payload (``text`` column) is cut into an ordered sequence of *text
nodes*, each carrying the evidence stage 1 scores on — visible length,
link length, tag path (cf. ``/root/reference/keras_ocr/detection.py``
score maps, which carry per-pixel text/link evidence).

Deliberately dependency-free (stdlib ``re`` only — no lxml/bs4 in the
runtime image) and allocation-light: a single regex pass over the raw
string, a tag stack for paths. Offsets are Python code-point offsets into
the ORIGINAL raw string; generated fixtures stay in the BMP so Spark's
``substring`` (UTF-16 code units) and Python slicing agree exactly.
"""

from __future__ import annotations

import re
from typing import List, NamedTuple

TAG_RE = re.compile(r"<[^>]*>")
TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
WS_RE = re.compile(r"[ \t\r\n]+")

#: Tags whose subtree is never content (cf. readability/boilerpipe
#: blacklists; analog of zero regions in the CRAFT text map).
BOILERPLATE_TAGS = frozenset(
    {
        "script",
        "style",
        "nav",
        "footer",
        "header",
        "aside",
        "form",
        "button",
        "noscript",
        "svg",
        "iframe",
        "select",
        "option",
    }
)

#: Void elements: never pushed on the stack.
VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "source", "wbr", "area", "base", "col", "embed", "track", "param"}
)


class Node(NamedTuple):
    """One text node.

    ``start``/``end`` are offsets of the raw segment in the original
    string (the 1-D recast of a detection box, cf.
    ``detection.py:273-285``). ``tlen`` is the whitespace-collapsed
    visible length; ``link_len`` the part of it inside an ``<a>``.
    """

    idx: int
    tag_path: str
    start: int
    end: int
    tlen: int
    link_len: int
    boiler: bool


def _visible_len(segment: str) -> int:
    """Whitespace-collapsed visible length. Fast path: most segments have
    no tabs/newlines/double spaces, so a strip + containment scan (all
    C-speed) avoids the regexp substitution and its allocation.

    The edge strip is the FULL-Unicode ``str.strip()`` — the collapse
    regex only touches ASCII whitespace, but the reference semantics
    (collapse-then-strip) drop ALL Unicode whitespace at the edges, so a
    segment like ``'\\xa0'`` (NBSP-only) or ``'a\\x0c'`` must strip the
    same way here. Interior non-ASCII whitespace is NOT collapsed in
    either formulation, so strip-first is equivalent."""
    stripped = segment.strip()
    if "  " in stripped or "\t" in stripped or "\r" in stripped or "\n" in stripped:
        return len(WS_RE.sub(" ", stripped))
    return len(stripped)


def tokenize(raw: str) -> List[Node]:
    """Split raw markup into ordered text nodes.

    Plain text (no tags) yields a single node with empty ``tag_path``.
    Whitespace-only segments are dropped (they carry no evidence, like
    zero-score pixels).

    This is the stage-1 hot loop (profiled at ~75% of the stage-1 UDF
    kernel), so the tag-stack state (joined path, link depth, boilerplate
    depth) is maintained INCREMENTALLY on push/pop instead of rescanned
    per emitted node, and tag classification slices two chars instead of
    materializing the tag string. Behavior is byte-identical to the
    straightforward version (asserted against recorded goldens and the
    randomized parity suite).
    """
    nodes: List[Node] = []
    if "<" not in raw:  # plain-text fast path: no tags, single node
        tlen = _visible_len(raw)
        if tlen:
            nodes.append(Node(0, "", 0, len(raw), tlen, 0, False))
        return nodes

    stack: List[str] = []
    path = ""  # cached ">".join(stack)
    link_depth = 0  # nesting count of <a>
    boiler_depth = 0  # nesting count of BOILERPLATE_TAGS
    pos = 0
    idx = 0
    # hot-loop local bindings (the loop runs once per tag corpus-wide)
    append = nodes.append
    vis = _visible_len
    tag_name_match = TAG_NAME_RE.match

    for m in TAG_RE.finditer(raw):
        seg_start = m.start()
        if seg_start > pos:
            tlen = vis(raw[pos:seg_start])
            if tlen:
                append(
                    Node(
                        idx,
                        path,
                        pos,
                        seg_start,
                        tlen,
                        tlen if link_depth else 0,
                        boiler_depth > 0,
                    )
                )
                idx += 1
        end = m.end()
        c1 = raw[seg_start + 1] if seg_start + 1 < end else ""
        if c1 == "/":
            name_m = tag_name_match(raw, seg_start)
            if name_m:
                name = name_m.group(1).lower()
                # Pop to the matching open tag (tolerate mis-nesting).
                if name in stack:
                    while stack:
                        top = stack.pop()
                        if top == "a":
                            link_depth -= 1
                        if top in BOILERPLATE_TAGS:
                            boiler_depth -= 1
                        if top == name:
                            break
                    path = ">".join(stack)
        elif c1 != "!":
            name_m = tag_name_match(raw, seg_start)
            if name_m and raw[end - 2] != "/":  # not self-closing
                name = name_m.group(1).lower()
                if name not in VOID_TAGS:
                    stack.append(name)
                    path = f"{path}>{name}" if path else name
                    if name == "a":
                        link_depth += 1
                    if name in BOILERPLATE_TAGS:
                        boiler_depth += 1
        pos = end
    if pos < len(raw):
        tlen = _visible_len(raw[pos:])
        if tlen:
            nodes.append(Node(idx, path, pos, len(raw), tlen, tlen if link_depth else 0, boiler_depth > 0))
    return nodes
