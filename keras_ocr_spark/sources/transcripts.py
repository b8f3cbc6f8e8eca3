"""Deterministic synthetic transcript tables (input_hint schema).

Schema (BASELINE.json input_hint, verbatim):
``(conv_id:string, turn_idx:int32, role:string, text:string, tool:string,
ts:timestamp)``.

Fixture variants mirror the reference's test cases
(``/root/reference/tests/test_pipeline.py:6-21``):

- **golden turn** — known HTML with a fixed expected extraction (analog
  of ``test_image.jpg`` -> ``"eventdock"``);
- **blank turn** — no extractable content -> zero spans (blank-image
  negative control, ``test_pipeline.py:9-12``);
- **multi-region turn** — several content blocks separated by boilerplate
  -> multiple ordered spans (multi-word analog; ordering contract per
  ``tools.fix_line``, ``/root/reference/tests/test_tools.py:5-24``);
- **skewed conversation** — one conv_id with ~100x the average turns, to
  exercise salted repartitioning.

Everything is seeded (``random.Random(seed)``) and self-contained: same
(seed, n_convs) -> byte-identical table. No wall clock, no external data.
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta
from typing import List, Tuple

GOLDEN_CONV = "conv-golden"
GOLDEN_HTML = (
    "<html><head><title>t</title></head><body>"
    "<nav><a href='/'>home</a> <a href='/x'>about</a> <a href='/y'>contact</a></nav>"
    "<div><p>The quick brown fox jumps over the lazy dog near the riverbank.</p></div>"
    "<footer>copyright 2024 example corp all rights reserved</footer>"
    "</body></html>"
)
GOLDEN_TEXT = "The quick brown fox jumps over the lazy dog near the riverbank."

BLANK_CONV = "conv-blank"
BLANK_HTML = "<html><body><nav><a href='/'>home</a></nav><script>var x=1;</script></body></html>"

MULTI_CONV = "conv-multi"
MULTI_HTML = (
    "<body><header>site header junk</header>"
    "<p>First content block with enough words to pass every size filter easily.</p>"
    "<div class='ads'><a href='/a'>ad one</a> <a href='/b'>ad two</a> <a href='/c'>ad three</a></div>"
    "<p>Second content block, also long enough &amp; with an entity to decode.</p>"
    "<footer><a href='/t'>terms</a></footer></body>"
)
MULTI_TEXT = (
    "First content block with enough words to pass every size filter easily.\n"
    "Second content block, also long enough & with an entity to decode."
)

SKEW_CONV = "conv-skew"

ROLES = ("user", "assistant", "system", "tool")
TOOLS = ("search", "browser", "python", "calculator", None, None, None)

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu data spark table window join shuffle partition content "
    "extraction paragraph sentence transcript conversation assistant response"
).split()

_BOILER_SNIPPETS = (
    "<nav><a href='/'>home</a> <a href='/p'>products</a> <a href='/c'>contact</a></nav>",
    "<footer>all rights reserved legal privacy cookies</footer>",
    "<aside><a href='/s1'>sponsored</a> <a href='/s2'>promoted</a> <a href='/s3'>trending</a></aside>",
    "<div><a href='/l1'>link</a> <a href='/l2'>farm</a> <a href='/l3'>rows</a> <a href='/l4'>here</a></div>",
    "<script>window.track && window.track('pv');</script>",
)

_EPOCH = datetime(2024, 1, 1, 0, 0, 0)


def _sentence(rng: random.Random, n_words: int) -> str:
    words = [rng.choice(_WORDS) for _ in range(n_words)]
    return (" ".join(words)).capitalize() + "."


def _html_turn(rng: random.Random) -> str:
    """A content turn: 1-3 paragraphs interleaved with boilerplate."""
    parts = [rng.choice(_BOILER_SNIPPETS)]
    for _ in range(rng.randint(1, 3)):
        para = _sentence(rng, rng.randint(8, 30))
        if rng.random() < 0.15:
            para = para.replace(" ", " &amp; ", 1)
        parts.append(f"<p>{para}</p>")
        if rng.random() < 0.5:
            parts.append(rng.choice(_BOILER_SNIPPETS))
    return "<body>" + "".join(parts) + "</body>"


def _plain_turn(rng: random.Random) -> str:
    return _sentence(rng, rng.randint(6, 40))


def generate_rows(
    n_convs: int = 50,
    seed: int = 42,
    skew_turns: int = 0,
) -> List[Tuple[str, int, str, str, str, datetime]]:
    """Rows ``(conv_id, turn_idx, role, text, tool, ts)``.

    ``skew_turns`` > 0 appends one pathological conversation with that
    many turns (default: 100x the mean turn count when enabled via
    ``make_skewed=True`` in :func:`generate_pandas`).
    """
    rng = random.Random(seed)
    rows: List[Tuple[str, int, str, str, str, datetime]] = []

    def add_conv(conv_id: str, turns: List[str]) -> None:
        ts = _EPOCH + timedelta(minutes=rng.randint(0, 500_000))
        for i, text in enumerate(turns):
            role = ROLES[i % 2] if rng.random() < 0.8 else rng.choice(ROLES)
            tool = rng.choice(TOOLS) if role == "tool" else (rng.choice(TOOLS) if rng.random() < 0.1 else None)
            rows.append((conv_id, i, role, text, tool, ts))
            ts += timedelta(seconds=rng.randint(5, 600))

    # Pinned fixtures first (golden / blank / multi-region).
    add_conv(GOLDEN_CONV, [GOLDEN_HTML, _plain_turn(rng)])
    add_conv(BLANK_CONV, [BLANK_HTML, ""])
    add_conv(MULTI_CONV, [MULTI_HTML])

    for c in range(n_convs):
        conv_id = f"conv-{c:06d}"
        n_turns = rng.randint(2, 12)
        turns = []
        for _ in range(n_turns):
            r = rng.random()
            if r < 0.55:
                turns.append(_html_turn(rng))
            elif r < 0.9:
                turns.append(_plain_turn(rng))
            else:
                turns.append(rng.choice(("", "   ", BLANK_HTML)))
        add_conv(conv_id, turns)

    if skew_turns > 0:
        add_conv(SKEW_CONV, [_html_turn(rng) for _ in range(skew_turns)])

    return rows


def generate_pandas(n_convs: int = 50, seed: int = 42, make_skewed: bool = True):
    """Same rows as a pandas DataFrame (Arrow-friendly dtypes)."""
    import pandas as pd

    skew = 100 * 7 if make_skewed else 0  # ~100x the mean (2..12) turn count
    rows = generate_rows(n_convs=n_convs, seed=seed, skew_turns=skew)
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


TRANSCRIPT_SCHEMA = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"


def spark_transcripts(spark, n_convs: int = 50, seed: int = 42, make_skewed: bool = True):
    """Transcripts as a Spark DataFrame (Arrow createDataFrame path)."""
    return spark.createDataFrame(generate_pandas(n_convs, seed, make_skewed), schema=TRANSCRIPT_SCHEMA)
