"""Binary document payloads: PDF-like bytes as an opaque binary column.

The reference reads its inputs as decoded ndarrays (keras_ocr's
``tools.read``). In a 100 TB lakehouse the payload is an opaque ``binary`` column, and parsing runs
inside ``mapInArrow`` so bytes never round-trip through the driver.
No PDF library is in this runtime, so ``synth_pdf_payloads`` writes
deterministic PDF-like content streams and ``parse_pdf_text`` reads
their text-show subset; the binary column and Arrow plumbing are real.
"""

from __future__ import annotations

import re
from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import zipguard

PDF_TEXT_SCHEMA = "id long, pdf_text string, n_bytes long"

#: PDF content-stream text-show grammar (multi-block): a payload holds
#: ANY number of ``BT ... ET`` text objects; inside each, any number of
#: show operators — ``(string) Tj`` and ``[(s1) -120 (s2) ...] TJ``
#: (TJ array numbers are kerning, ignored; strings concatenate).
#: Strings use PDF escaping: ``\(`` ``\)`` ``\\``.
#: Block content treats parenthesized strings ATOMICALLY (the
#: alternation consumes a whole ``(...)`` with escapes before the
#: non-greedy terminator test), so an ``ET`` inside shown text — "the
#: ETF fund" — can never terminate the block early.
_PDF_BT = re.compile(rb"BT ((?:\((?:[^()\\]|\\.)*\)|[^()])*?) ?ET", re.DOTALL)
_PDF_STR = re.compile(rb"\(((?:[^()\\]|\\.)*)\)", re.DOTALL)
_PDF_SHOW = re.compile(
    rb"\(((?:[^()\\]|\\.)*)\) *Tj|\[((?:\((?:[^()\\]|\\.)*\)|[^\]\\()]|\\.)*)\] *TJ",
    re.DOTALL,
)

_CHUNK_WORDS = 4  # synth: one show block per 4 original words


def _pdf_escape_expr(col):
    """PDF string escaping as a JVM expression chain: backslash first,
    then parens (same order as the DuckDB oracle's replace chain)."""
    e = F.replace(col, F.lit("\\"), F.lit("\\\\"))
    e = F.replace(e, F.lit("("), F.lit("\\("))
    return F.replace(e, F.lit(")"), F.lit("\\)"))


def _pdf_unescape(b: bytes) -> str:
    return (
        b.replace(b"\\(", b"(").replace(b"\\)", b")").replace(b"\\\\", b"\\").decode("utf-8")
    )


def synth_pdf_payloads(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Deterministic MULTI-BLOCK PDF-like binary payloads from a text
    column: the text splits into 4-word chunks, each emitted as its own
    ``BT .. ET`` object — even chunks as ``(s) Tj``, odd chunks as
    ``[(s) -120] TJ`` (so both show forms appear in every multi-chunk
    payload), PDF-escaped. Stands in for real PDFs (no pdf libs in this
    runtime) while keeping the binary column + Arrow plumbing fully
    real; the parser must reassemble the original text exactly.
    Pure-expression synthesis (no Python), mirrored verbatim by the
    DuckDB oracle."""
    words = F.split(F.col(text_col), " ")
    n_chunks = F.ceil(F.size(words) / F.lit(_CHUNK_WORDS)).cast("int")
    chunk = lambda i: _pdf_escape_expr(  # noqa: E731
        F.array_join(F.slice(words, i * _CHUNK_WORDS + 1, _CHUNK_WORDS), " ")
    )
    block = lambda i: F.when(  # noqa: E731
        i % 2 == 0, F.concat(F.lit("BT ("), chunk(i), F.lit(") Tj ET"))
    ).otherwise(F.concat(F.lit("BT [("), chunk(i), F.lit(") -120] TJ ET")))
    blocks = F.transform(F.sequence(F.lit(0), F.greatest(n_chunks, F.lit(1)) - 1), block)
    stream = F.concat(F.lit("%PDF-1.4 "), F.array_join(blocks, " "), F.lit(" EOF"))
    return df.select(F.col(id_col).cast("long").alias("id"), F.encode(stream, "utf-8").alias("payload"))


def parse_pdf_text(raw: bytes) -> str | None:
    """All text shown by a content stream, in stream order: TJ-array
    strings concatenate (numbers are kerning), blocks join with a
    single space. None when no text object parses."""
    blocks = []
    for m in _PDF_BT.finditer(raw):
        parts = []
        for sm in _PDF_SHOW.finditer(m.group(1)):
            if sm.group(1) is not None:  # (s) Tj
                parts.append(_pdf_unescape(sm.group(1)))
            else:  # [(s1) n (s2) ...] TJ
                parts.extend(_pdf_unescape(x) for x in _PDF_STR.findall(sm.group(2)))
        blocks.append("".join(parts))
    return " ".join(blocks) if blocks else None


def pdf_extract_text(df: DataFrame) -> DataFrame:
    """Binary PDF-ish payloads -> text via mapInArrow (the byte-stream
    tokenization path: bytes stay in Arrow buffers, the pure-Python
    parser runs batch-at-a-time on executors — the ``tools.read``
    polymorphic-source analog for document payloads,
    /root/reference/keras_ocr/tools.py:19-38). A real PDF parser slots
    into the same iterator; the grammar here is the text-show subset
    with multi-block streams and both Tj/TJ forms."""

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        zipguard.install()
        for batch in batches:
            texts, sizes = [], []
            for payload in batch.column("payload").to_pylist():
                raw = payload or b""
                texts.append(parse_pdf_text(raw))
                sizes.append(len(raw))
            yield pa.RecordBatch.from_arrays(
                [batch.column("id"), pa.array(texts, pa.string()), pa.array(sizes, pa.int64())],
                names=["id", "pdf_text", "n_bytes"],
            )

    return df.select("id", "payload").mapInArrow(op, schema=PDF_TEXT_SCHEMA)


def extract_from_pdfs(df: DataFrame, cfg=None) -> DataFrame:
    """Full byte-stream flagship composition: binary PDF-ish payloads ->
    text (mapInArrow parse) -> the SAME two-stage propose/decode/
    reassemble pipeline the HTML transcripts use. One extra Python
    boundary (the parser) ahead of the standard map-only plan; documents
    become single-turn conversations keyed by payload id."""
    from ..config import DEFAULT_CONFIG
    from ..plans.pipeline import extract

    texts = pdf_extract_text(df).select(
        F.concat(F.lit("pdf-"), F.col("id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.coalesce(F.col("pdf_text"), F.lit("")).alias("text"),
    )
    return extract(texts, cfg=cfg or DEFAULT_CONFIG)

