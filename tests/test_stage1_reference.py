"""The linear-time stage-1 kernel equals the frozen regex kernel it
replaced (``stage1_reference``), byte for byte, and stays linear.

Inputs are the five adversarial shapes of the worst-case study (typical
HTML, ``"x < y "`` runs, all ``<``, ``"<a>"*n + "</b>"*m``, nested
``<div>``), seeded random mixes of them and, in
``tests/test_properties.py``, the property-test markup alphabet widened
with the same atoms. Each runs under the default config and configs
that reach every grouping branch: ``text_threshold`` 0, a
``link_threshold`` of 1 or more (no connectors), ``dilate`` > 0 (crops
that cut into tags), ``max_connector_run`` 0-3 and a small ``max_len``.
"""

import random
import time

import pytest

import stage1_reference as ref
from keras_ocr_spark.config import DEFAULT_CONFIG, ExtractionConfig
from keras_ocr_spark.core import decode_text, extract_turn, propose_spans, tokenize
from keras_ocr_spark.core import tokenizer

KIB = 1024
TYPICAL_TURN = (
    "<body><nav><a href='/'>home</a> <a href='/shop'>shop</a></nav>"
    "<p>Amber basin cedar delta ember fjord glade &amp; harbor inlet juniper.</p>"
    "<div><a href='/r1'>more</a> <a href='/r2'>links</a></div>"
    "<p>Kestrel lagoon meadow nectar orchid prairie quarry ridge summit.</p>"
    "<script>if (a < b) { go(); }</script><footer>terms privacy</footer></body>"
)


def shape(name: str, size: int) -> str:
    """One adversarial shape, ``size`` characters long."""
    if name == "typical_html":
        unit = TYPICAL_TURN
    elif name == "x_lt_y":
        unit = "x < y "
    elif name == "all_lt":
        unit = "<"
    elif name == "open_a_close_b":
        half = "<a>" * (size // 6)
        return (half + "</b>" * size)[:size]
    elif name == "nested_div":
        unit = "<div>word "
    else:
        raise ValueError(name)
    return (unit * (size // len(unit) + 1))[:size]


SHAPES = ["typical_html", "x_lt_y", "all_lt", "open_a_close_b", "nested_div"]

#: Mixed into the random mixes: a link run that outscores short seeds
#: next to it (a connector sets the region's best score), a
#: self-closing non-void tag, upper-case names and a spaced close tag.
FRAGMENTS = ["<p>ab</p>", "<a>" + "link text " * 10 + "</a>", "<p/>cd", "<A HREF='/r'>x</A>", "<b>y</ b>"]

#: Configs that reach every grouping branch (see the module docstring).
CONFIGS = [
    DEFAULT_CONFIG,
    ExtractionConfig(text_threshold=0.0, size_threshold=0, detection_threshold=0.0),
    ExtractionConfig(link_threshold=1.0, dilate=3),
    ExtractionConfig(link_threshold=1.5, max_connector_run=0, text_threshold=0.0),
    ExtractionConfig(max_connector_run=3, text_threshold=0.1, link_threshold=0.2, dilate=40),
    ExtractionConfig(max_connector_run=2, dilate=1, max_len=97),
    ExtractionConfig(max_len=5),
    ExtractionConfig(text_threshold=0.1, link_threshold=0.0, detection_threshold=0.0, size_threshold=0),
]


def random_config(rng: random.Random) -> ExtractionConfig:
    return ExtractionConfig(
        detection_threshold=rng.choice([0.0, 0.5, 0.7, 0.9]),
        text_threshold=rng.choice([0.0, 0.1, 0.4, 0.6]),
        link_threshold=rng.choice([0.0, 0.2, 0.4, 1.0, 1.5]),
        size_threshold=rng.choice([0, 1, 10, 40]),
        max_connector_run=rng.randint(0, 3),
        dilate=rng.choice([0, 1, 7, 100]),
        max_len=rng.choice([65536, 500, 61, 1]),
    )


def assert_equals_reference(raw: str, cfgs) -> None:
    nodes = tokenize(raw)
    assert nodes == ref.tokenize(raw)
    assert decode_text(raw) == ref.decode_text(raw)
    for cfg in cfgs:
        assert propose_spans(nodes, len(raw), cfg) == ref.propose_spans(nodes, len(raw), cfg), cfg
        got = extract_turn(raw, cfg)
        assert (got.clean_text, got.spans) == ref.extract_turn(raw, cfg), cfg


@pytest.mark.parametrize("name", SHAPES)
def test_shapes_equal_reference(name):
    # the reference is quadratic on three of the shapes: 16 KiB at most
    assert_equals_reference(shape(name, 16 * KIB), [DEFAULT_CONFIG])
    assert_equals_reference(shape(name, 3 * KIB), CONFIGS)


def test_random_mixes_equal_reference():
    rng = random.Random(16)
    for _ in range(40):
        raw = "".join(
            shape(rng.choice(SHAPES), rng.randint(0, 400)) if rng.random() < 0.5 else rng.choice(FRAGMENTS)
            for _ in range(rng.randint(1, 8))
        )
        assert_equals_reference(raw, [*CONFIGS, random_config(rng), random_config(rng)])


def test_tag_memo_is_bounded():
    distinct = "".join(f"<p id={i}>x</p>" for i in range(tokenizer.TAG_MEMO_CAP + 50))
    long_tag = "<div " + "k" * tokenizer.TAG_MEMO_MAX_BODY + ">y</div>"
    raw = distinct + long_tag
    assert tokenize(raw) == ref.tokenize(raw)
    assert len(tokenizer._TAG_MEMO) <= tokenizer.TAG_MEMO_CAP
    assert long_tag[1:-8] not in tokenizer._TAG_MEMO


def _best_cpu(raw: str) -> float:
    best = float("inf")
    for _ in range(3):
        t0 = time.process_time()
        for _ in range(3):
            extract_turn(raw)
        best = min(best, time.process_time() - t0)
    return best


@pytest.mark.parametrize("name", SHAPES)
def test_cost_is_linear(name):
    # Quadrupling the length must cost about 4x, not 16x (8x leaves room
    # for noise); the regex kernel read 16x-18x on three of the shapes.
    small, large = _best_cpu(shape(name, 16 * KIB)), _best_cpu(shape(name, 64 * KIB))
    assert large / max(small, 1e-4) <= 8, (name, small, large)
