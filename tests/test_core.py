"""Unit tests for the pure-Python extraction core.

Modeled on the reference's operator-level golden tests:
``/root/reference/tests/test_tools.py:5-24`` (ordering golden),
``/root/reference/tests/test_evaluation.py:4-10`` (IoU exact values),
``/root/reference/tests/test_pipeline.py:6-21`` (e2e golden + blank
negative control).
"""

from keras_ocr_spark.config import ExtractionConfig
from keras_ocr_spark.core import (
    decode_text,
    extract_turn,
    propose_spans,
    tokenize,
)
from keras_ocr_spark.core.scoring import score_and_ratio
from keras_ocr_spark.sources.transcripts import (
    BLANK_HTML,
    GOLDEN_HTML,
    GOLDEN_TEXT,
    MULTI_HTML,
    MULTI_TEXT,
)


class TestTokenizer:
    def test_plain_text_single_node(self):
        nodes = tokenize("hello world")
        assert len(nodes) == 1
        assert nodes[0].tag_path == ""
        assert (nodes[0].start, nodes[0].end) == (0, 11)
        assert nodes[0].tlen == 11

    def test_empty_and_whitespace(self):
        assert tokenize("") == []
        assert tokenize("   \n\t ") == []
        assert tokenize("<p></p><div>  </div>") == []

    def test_tag_paths_and_offsets(self):
        raw = "<body><div><p>abc</p></div><span>xy</span></body>"
        nodes = tokenize(raw)
        assert [n.tag_path for n in nodes] == ["body>div>p", "body>span"]
        # Offsets index the ORIGINAL raw string (adjust_boxes contract,
        # tools.py:232-260: coordinates map back to input space).
        assert raw[nodes[0].start : nodes[0].end] == "abc"
        assert raw[nodes[1].start : nodes[1].end] == "xy"

    def test_link_and_boilerplate_flags(self):
        raw = "<body><a href='/'>click</a><script>junk()</script><p>text</p></body>"
        nodes = tokenize(raw)
        assert nodes[0].link_len == nodes[0].tlen == 5
        assert nodes[1].boiler is True  # script content flagged
        assert nodes[2].link_len == 0 and nodes[2].boiler is False

    def test_unicode_whitespace_edges(self):
        # Full-Unicode strip at segment edges: collapse-then-strip
        # reference semantics drop NBSP/form-feed/vertical-tab-only
        # segments and exclude them from edge lengths (ADVICE r2).
        assert tokenize("<div>\xa0</div>") == []
        assert tokenize("<div>\x0c\x0b　</div>") == []
        nodes = tokenize("<p>\xa0abc\x0c</p>")
        assert len(nodes) == 1 and nodes[0].tlen == 3
        # Interior non-ASCII whitespace is NOT collapsed (both
        # formulations agree): 'a<NBSP>b' keeps its 3 visible chars.
        nodes = tokenize("<p>a\xa0b</p>")
        assert nodes[0].tlen == 3

    def test_void_and_selfclosing_tags_do_not_nest(self):
        nodes = tokenize("<p>a<br>b<img src='x'/>c</p>")
        assert all(n.tag_path == "p" for n in nodes)

    def test_misnested_close_tolerated(self):
        nodes = tokenize("<div><p>a</div>b")
        assert nodes[0].tag_path == "div>p"
        assert nodes[1].tag_path == ""


def _score(node):
    return score_and_ratio(node.tlen, node.link_len, node.boiler)[0]


class TestScoring:
    def test_boilerplate_scores_zero(self):
        nodes = tokenize("<script>var alpha = some long script body here;</script>")
        assert _score(nodes[0]) == 0.0

    def test_longer_text_scores_higher(self):
        short = tokenize("<p>tiny</p>")[0]
        long = tokenize("<p>" + "word " * 30 + "</p>")[0]
        assert _score(long) > _score(short)

    def test_link_text_discounted(self):
        plain = tokenize("<p>some reasonable content</p>")[0]
        linked = tokenize("<a>some reasonable content</a>")[0]
        assert _score(linked) < _score(plain)


class TestProposal:
    def test_blank_yields_zero_spans(self):
        # Negative control (test_pipeline.py:9-12: blank image -> no boxes).
        nodes = tokenize(BLANK_HTML)
        assert propose_spans(nodes, len(BLANK_HTML)) == []

    def test_golden_single_span(self):
        nodes = tokenize(GOLDEN_HTML)
        spans = propose_spans(nodes, len(GOLDEN_HTML))
        assert len(spans) == 1
        assert GOLDEN_HTML[spans[0].start : spans[0].end] == GOLDEN_TEXT

    def test_size_threshold_drops_small(self):
        raw = "<p>tiny</p>"
        spans = propose_spans(tokenize(raw), len(raw), ExtractionConfig(size_threshold=10))
        assert spans == []

    def test_detection_threshold_culls_weak_components(self):
        raw = "<p>medium line</p>"  # density 11/26 ~ 0.42: seeds but weak
        cfg_loose = ExtractionConfig(detection_threshold=0.0)
        cfg_strict = ExtractionConfig(detection_threshold=0.7)
        assert len(propose_spans(tokenize(raw), len(raw), cfg_loose)) == 1
        assert propose_spans(tokenize(raw), len(raw), cfg_strict) == []

    def test_connector_glues_runs_but_is_trimmed_at_edges(self):
        body = (
            "<p>First long enough content paragraph with many words in it.</p>"
            "<a href='/x'>mid link</a>"
            "<p>Second long enough content paragraph with many words too.</p>"
        )
        spans = propose_spans(tokenize(body), len(body))
        assert len(spans) == 1  # link node glued the two seeds
        edge = (
            "<a href='/x'>leading link</a>"
            "<p>Only one long enough content paragraph with many words here.</p>"
        )
        spans2 = propose_spans(tokenize(edge), len(edge))
        assert len(spans2) == 1
        assert edge[spans2[0].start] == "O"  # leading connector trimmed

    def test_dilation_clips_to_bounds(self):
        raw = "<p>a decently long content sentence right here</p>"
        spans = propose_spans(tokenize(raw), len(raw), ExtractionConfig(dilate=1000, detection_threshold=0.0))
        assert spans[0].start == 0 and spans[0].end == len(raw)


class TestDecoder:
    def test_strip_tags_collapse_ws(self):
        assert decode_text("<p>a   b\n\nc</p>") == "a b c"

    def test_entities_amp_last(self):
        assert decode_text("x &amp; y") == "x & y"
        assert decode_text("&amp;lt;") == "&lt;"  # no double decode
        assert decode_text("&lt;b&gt;") == "<b>"
        assert decode_text("a&nbsp;b") == "a b"

    def test_empty(self):
        assert decode_text("") == ""
        assert decode_text("<br/>") == ""


class TestOracle:
    def test_golden_turn(self):
        # e2e golden (test_pipeline.py:17-21 analog).
        result = extract_turn(GOLDEN_HTML)
        assert result.clean_text == GOLDEN_TEXT
        assert len(result.spans) == 1

    def test_blank_turn(self):
        result = extract_turn(BLANK_HTML)
        assert result.clean_text == "" and result.spans == []

    def test_multi_region_order(self):
        # Multi-word ordering analog (tools.fix_line, test_tools.py:5-24):
        # spans must come back in document order.
        result = extract_turn(MULTI_HTML)
        assert result.clean_text == MULTI_TEXT
        assert len(result.spans) == 2
        assert result.spans[0].start < result.spans[1].start

    def test_none_and_empty_input(self):
        assert extract_turn(None).clean_text == ""
        assert extract_turn("").clean_text == ""

    def test_max_len_cap(self):
        raw = "<p>" + "word " * 100 + "</p>"
        capped = extract_turn(raw, ExtractionConfig(max_len=50))
        full = extract_turn(raw)
        assert len(capped.clean_text) < len(full.clean_text)

    def test_plain_text_passthrough(self):
        raw = "Just a plain sentence with no markup at all in it."
        result = extract_turn(raw)
        assert result.clean_text == raw
        assert result.spans[0] == result.spans[0]._replace(start=0, end=len(raw))


class TestDeterminism:
    def test_generator_is_seed_stable(self):
        from keras_ocr_spark.sources.transcripts import generate_rows

        a = generate_rows(n_convs=10, seed=42)
        b = generate_rows(n_convs=10, seed=42)
        assert a == b
        c = generate_rows(n_convs=10, seed=43)
        assert a != c
