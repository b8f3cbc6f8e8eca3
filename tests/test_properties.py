"""Property-based tests for the extraction core (hypothesis).

The reference has no property tests (SURVEY.md §5); these harden the
graft's invariants that exact parity depends on:

- node offsets index the original string, are in-bounds, ordered, and
  non-overlapping;
- proposed spans are in-bounds, ordered, non-overlapping, and respect
  the size threshold;
- decode is idempotent on its own output; extraction is deterministic;
- the linear-time kernel equals the frozen regex kernel
  (``stage1_reference``) under random configs.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

import stage1_reference as ref
from keras_ocr_spark.config import DEFAULT_CONFIG, ExtractionConfig
from keras_ocr_spark.core import decode_text, extract_turn, propose_spans, tokenize

markup = st.lists(
    st.sampled_from(
        list("abc <>/&;\"'\n\t=")
        + ["<p>", "</p>", "<a>", "</a>", "<div>", "&amp;", "&lt;", "<br/>"]
        # the adversarial shapes' atoms (tests/test_stage1_reference.py)
        + ["x < y ", "<<<<", "</b>", "<div>word ", "<nav>", "</nav>", "<a href='/r'>", "<!-- c -->", "\xa0", "<p/>", "</ A>"]
    ),
    max_size=120,
).map("".join)

configs = st.builds(
    ExtractionConfig,
    detection_threshold=st.sampled_from([0.0, 0.5, 0.7]),
    text_threshold=st.sampled_from([0.0, 0.1, 0.4]),
    link_threshold=st.sampled_from([0.0, 0.4, 1.0, 1.5]),
    size_threshold=st.sampled_from([0, 1, 10]),
    max_connector_run=st.integers(0, 3),
    dilate=st.sampled_from([0, 1, 7]),
    max_len=st.sampled_from([65536, 40, 3]),
)


@given(markup)
@settings(max_examples=300, deadline=None)
def test_node_offsets_are_sound(raw):
    nodes = tokenize(raw)
    prev_end = 0
    for n in nodes:
        assert 0 <= n.start < n.end <= len(raw)
        assert n.start >= prev_end  # ordered, non-overlapping
        prev_end = n.end
        assert raw[n.start : n.end].strip() != ""  # carries visible text
        assert 0 <= n.link_len <= n.tlen


@given(markup)
@settings(max_examples=300, deadline=None)
def test_spans_are_sound(raw):
    spans = propose_spans(tokenize(raw), len(raw))
    prev_end = 0
    for s in spans:
        assert 0 <= s.start < s.end <= len(raw)
        assert s.start >= prev_end
        prev_end = s.end
        assert s.score >= DEFAULT_CONFIG.detection_threshold


@given(markup)
@settings(max_examples=300, deadline=None)
def test_decode_idempotent_and_deterministic(raw):
    once = decode_text(raw)
    assert "\n" not in once and "\t" not in once and "  " not in once
    assert decode_text(once) == decode_text(once)
    r1 = extract_turn(raw)
    r2 = extract_turn(raw)
    assert r1 == r2


@given(markup, configs)
@settings(max_examples=300, deadline=None)
def test_equals_frozen_reference(raw, cfg):
    nodes = tokenize(raw)
    assert nodes == ref.tokenize(raw)
    assert propose_spans(nodes, len(raw), cfg) == ref.propose_spans(nodes, len(raw), cfg)
    assert decode_text(raw) == ref.decode_text(raw)
    got = extract_turn(raw, cfg)
    assert (got.clean_text, got.spans) == ref.extract_turn(raw, cfg)
