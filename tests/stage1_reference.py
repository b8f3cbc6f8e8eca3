"""Frozen reference of the stage-1 kernel: the regex tokenizer, the
node-list proposal and the regex decoder that ``core`` replaced with one
linear-time scanner. Test-only. ``tests/test_stage1_reference.py``
asserts that ``core`` produces byte-identical output to this module.

Do not optimise or fix this module: its value is that it does not
change. It is quadratic on some inputs (``<[^>]*>`` rescans to the end
of the string from every unclosed ``<``), so keep its inputs small.
"""

from __future__ import annotations

import re
from typing import List, NamedTuple

from keras_ocr_spark.config import DEFAULT_CONFIG, ExtractionConfig

TAG_RE = re.compile(r"<[^>]*>")
TAG_NAME_RE = re.compile(r"</?\s*([a-zA-Z][a-zA-Z0-9]*)")
WS_RE = re.compile(r"[ \t\r\n]+")

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
VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "source", "wbr", "area", "base", "col", "embed", "track", "param"}
)
ENTITIES = (
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),
)
DENSITY_KNEE = 15
LINK_PENALTY = 0.8


class Node(NamedTuple):
    idx: int
    tag_path: str
    start: int
    end: int
    tlen: int
    link_len: int
    boiler: bool


class Span(NamedTuple):
    start: int
    end: int
    score: float
    n_nodes: int


def _visible_len(segment: str) -> int:
    stripped = segment.strip()
    if "  " in stripped or "\t" in stripped or "\r" in stripped or "\n" in stripped:
        return len(WS_RE.sub(" ", stripped))
    return len(stripped)


def tokenize(raw: str) -> List[Node]:
    nodes: List[Node] = []
    if "<" not in raw:
        tlen = _visible_len(raw)
        if tlen:
            nodes.append(Node(0, "", 0, len(raw), tlen, 0, False))
        return nodes
    stack: List[str] = []
    path = ""
    link_depth = 0
    boiler_depth = 0
    pos = 0
    idx = 0
    for m in TAG_RE.finditer(raw):
        seg_start = m.start()
        if seg_start > pos:
            tlen = _visible_len(raw[pos:seg_start])
            if tlen:
                nodes.append(Node(idx, path, pos, seg_start, tlen, tlen if link_depth else 0, boiler_depth > 0))
                idx += 1
        end = m.end()
        c1 = raw[seg_start + 1] if seg_start + 1 < end else ""
        if c1 == "/":
            name_m = TAG_NAME_RE.match(raw, seg_start)
            if name_m:
                name = name_m.group(1).lower()
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
            name_m = TAG_NAME_RE.match(raw, seg_start)
            if name_m and raw[end - 2] != "/":
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


def score_and_ratio(node: Node) -> tuple:
    tlen = node.tlen
    ratio = node.link_len / tlen if tlen else 0.0
    if node.boiler:
        return 0.0, ratio
    return (tlen / (tlen + DENSITY_KNEE)) * (1.0 - LINK_PENALTY * ratio), ratio


def propose_spans(nodes, raw_len: int, cfg: ExtractionConfig = DEFAULT_CONFIG) -> List[Span]:
    spans: List[Span] = []
    run: List[tuple] = []

    def flush() -> None:
        if not run:
            return
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
        if sum(m[0].tlen for m in members) < cfg.size_threshold:
            return
        best = max(m[1] for m in members)
        if best < cfg.detection_threshold:
            return
        start = max(0, members[0][0].start - cfg.dilate)
        end = min(raw_len, members[-1][0].end + cfg.dilate)
        spans.append(Span(start=start, end=end, score=best, n_nodes=len(members)))

    connector_streak = 0
    for node in nodes:
        score, ratio = score_and_ratio(node)
        if score >= cfg.text_threshold and ratio <= cfg.link_threshold:
            run.append((node, score, True))
            connector_streak = 0
        elif (not node.boiler) and ratio > cfg.link_threshold and node.tlen > 0:
            connector_streak += 1
            if connector_streak > cfg.max_connector_run:
                flush()
            else:
                run.append((node, score, False))
        else:
            flush()
            connector_streak = 0
    flush()
    return spans


def decode_text(fragment: str) -> str:
    s = TAG_RE.sub("", fragment) if "<" in fragment else fragment
    if "&" in s:
        for entity, char in ENTITIES:
            s = s.replace(entity, char)
    if "  " in s or "\t" in s or "\r" in s or "\n" in s:
        s = WS_RE.sub(" ", s)
    return s.strip()


def extract_turn(raw: str, cfg: ExtractionConfig = DEFAULT_CONFIG) -> tuple:
    """(clean_text, spans) as ``core.oracle.extract_turn`` returned them."""
    capped = (raw or "")[: cfg.max_len]
    pieces: List[str] = []
    kept: List[Span] = []
    for span in propose_spans(tokenize(capped), len(capped), cfg):
        piece = decode_text(capped[span.start : span.end])
        if piece:
            pieces.append(piece)
            kept.append(span)
    return "\n".join(pieces), kept
