"""HTML tokenizer: raw markup -> ordered DOM-ish text nodes.

Graft analog of the reference's image ingestion + CRAFT feature grid: the
raw payload (``text`` column) is cut into an ordered sequence of *text
nodes*, each carrying the evidence stage 1 scores on — visible length,
link length, tag path (cf. ``/root/reference/keras_ocr/detection.py``
score maps, which carry per-pixel text/link evidence).

Deliberately dependency-free (stdlib only — no lxml/bs4 in the runtime
image) and linear-time: ``cut_tags`` finds every tag with one C-level
split, ``scan_nodes`` walks the pieces once, classifies each distinct
tag text once (a bounded memo) and answers "is this tag open?" with a
count per tag name, so no input shape costs more than a pass. The same
cut serves ``strip_tags`` (the decoder's tag strip), so the tokenizer
and the decoder agree on what a tag is. Offsets are Python code-point
offsets into the ORIGINAL raw string; generated fixtures stay in the
BMP so Spark's ``substring`` (UTF-16 code units) and Python slicing
agree exactly.
"""

from __future__ import annotations

import re
from typing import Iterator, List, NamedTuple, Tuple

#: A tag's name, matched on its text between ``<`` and ``>``.
TAG_NAME_RE = re.compile(r"/?\s*([a-zA-Z][a-zA-Z0-9]*)")
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


def cut_tags(s: str) -> Tuple[List[str], str]:
    """The tag scanner: ``s`` cut at its tags, with the semantics of the
    regex ``<[^>]*>`` (leftmost matches) in linear time.

    A tag runs from a ``<`` to the next ``>``, and a ``<`` opens one
    only if some ``>`` follows it. So ``s`` up to its last ``>`` is split
    at every ``>``: in each piece, the first ``<`` starts the tag that
    the piece's ``>`` ends (``piece.partition("<")`` gives the text
    before it, ``"<"`` and the tag's body), and a piece with no ``<`` is
    text followed by a literal ``>``. ``tail`` is the text after the
    last ``>``, where a ``<`` is literal too. The regex, by contrast,
    rescans to the end of ``s`` from every ``<`` that no ``>`` follows.
    """
    last = s.rfind(">")
    if last < 0:
        return [], s
    return s[:last].split(">"), s[last + 1 :]


def strip_tags(s: str) -> str:
    """``s`` with every tag removed: ``re.sub("<[^>]*>", "", s)``."""
    pieces, tail = cut_tags(s)
    kept = []
    for piece in pieces:
        text, lt, _ = piece.partition("<")
        kept.append(text if lt else text + ">")
    kept.append(tail)
    return "".join(kept)


#: Tag bodies (the text between ``<`` and ``>``) -> what the tag does to
#: the open-element stack: an ``(name, is_link, is_boilerplate)`` tuple
#: opens ``name``, a ``str`` closes that name, ``""`` does nothing.
#: Tag texts repeat (``<p>``, ``</a>``), so most tags skip the regex.
#: Bounded: emptied when full, and bodies longer than
#: ``TAG_MEMO_MAX_BODY`` are classified without being stored.
_TAG_MEMO: dict = {}
TAG_MEMO_CAP = 4096
TAG_MEMO_MAX_BODY = 128


def _classify(body: str):
    """The stack action of the tag ``<body>`` (see ``_TAG_MEMO``)."""
    c1 = body[:1]
    if c1 == "!":  # comment, doctype
        return ""
    m = TAG_NAME_RE.match(body)
    if not m:
        return ""
    name = m.group(1).lower()
    if c1 == "/":
        return name
    if body[-1] == "/" or name in VOID_TAGS:  # self-closing or void
        return ""
    return (name, name == "a", name in BOILERPLATE_TAGS)


def scan_nodes(raw: str) -> Iterator[tuple]:
    """The stage-1 scan: yield the text nodes of ``raw`` in order, as
    tuples in ``Node``'s field order, except that the second field is the
    open-element chain instead of the tag path (``tag_path`` builds the
    path; only ``tokenize`` needs it).

    The chain is a linked stack of ``(name, parent, in_link,
    in_boilerplate)`` cells, where the two flags are the state below the
    cell, so a pop restores them without a recount. A close tag pops to
    the nearest open element of its name (tolerating mis-nesting) and is
    ignored when none is open; ``open_count`` answers that in O(1).
    Whitespace-only segments yield nothing.
    """
    pieces, _ = cut_tags(raw)  # the text after the last tag is raw[text_start:]
    memo = _TAG_MEMO
    open_count: dict = {}
    chain = None
    in_link = in_boiler = False
    idx = 0
    pos = text_start = 0  # start of the current piece / of the pending text
    vis = _visible_len
    for piece in pieces:
        text, lt, body = piece.partition("<")
        if not lt:  # a '>' outside any tag: the text goes on
            pos += len(piece) + 1
            continue
        tag_start = pos + len(text)
        if tag_start > text_start:
            tlen = vis(text if text_start == pos else raw[text_start:tag_start])
            if tlen:
                yield (idx, chain, text_start, tag_start, tlen, tlen if in_link else 0, in_boiler)
                idx += 1
        pos = text_start = pos + len(piece) + 1
        action = memo.get(body)
        if action is None:
            action = _classify(body)
            if len(body) <= TAG_MEMO_MAX_BODY:
                if len(memo) >= TAG_MEMO_CAP:
                    memo.clear()
                memo[body] = action
        if action.__class__ is tuple:
            name, is_link, is_boiler = action
            open_count[name] = open_count.get(name, 0) + 1
            chain = (name, chain, in_link, in_boiler)
            in_link = in_link or is_link
            in_boiler = in_boiler or is_boiler
        elif open_count.get(action):
            while True:
                name, chain, in_link, in_boiler = chain
                open_count[name] -= 1
                if name == action:
                    break
    tlen = vis(raw[text_start:])
    if tlen:
        yield (idx, chain, text_start, len(raw), tlen, tlen if in_link else 0, in_boiler)


def tag_path(chain, paths: dict) -> str:
    """``">"``-joined names of an open-element chain, outermost first.

    ``paths`` maps ``id(cell)`` to ``(cell, path)`` for the cells seen
    so far in one document; holding the cell keeps its id unique. Each
    cell's path is built once from its parent's, so deep nesting costs
    the length of the paths, not a walk to the root per node."""
    todo = []
    while chain is not None:
        hit = paths.get(id(chain))
        if hit is not None:
            path = hit[1]
            break
        todo.append(chain)
        chain = chain[1]
    else:
        path = ""
    for cell in reversed(todo):
        path = f"{path}>{cell[0]}" if path else cell[0]
        paths[id(cell)] = (cell, path)
    return path


def tokenize(raw: str) -> List[Node]:
    """Split raw markup into ordered text nodes.

    Plain text (no tags) yields a single node with empty ``tag_path``.
    Whitespace-only segments are dropped (they carry no evidence, like
    zero-score pixels). ``core.oracle.extract_turn`` consumes
    ``scan_nodes`` directly; this list form adds each node's tag path.
    """
    paths: dict = {}
    return [
        Node(idx, tag_path(chain, paths), start, end, tlen, link_len, boiler)
        for idx, chain, start, end, tlen, link_len, boiler in scan_nodes(raw)
    ]
