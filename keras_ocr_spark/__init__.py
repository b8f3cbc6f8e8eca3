"""keras_ocr_spark — a brand-new PySpark-native detect-then-extract engine.

Recasts the two-stage design of faustomorales/keras-ocr (CRAFT region
proposal + CRNN/CTC decoding) as a distributed main-content extraction
pipeline over transcript tables (conv_id, turn_idx, role, text, tool,
ts): stage 1 runs the per-turn kernel ``core.oracle.extract_turn``
inside one Arrow iterator UDF — propose content spans via DOM-node
scoring, decode each span once, drop the blank ones and join the rest
in document order — and returns the clean text and kept spans as one
struct; the plan then projects its fields per row, with no shuffle.

The same plan runs in batch (``plans.pipeline``), as a checkpointed,
resumable job (``plans.checkpoint``) and per micro-batch
(``streaming``). Beside it sit the corpus-curation operators
(``operators/``: dedup, clusters, quality, mixing) that the
``curate_corpus`` query composes into one plan, and the driver registry
(``driver_queries``) that pairs each query with a DuckDB oracle.

Spark-first: DataFrame/SQL + Catalyst everywhere; Python UDFs only where
built-ins genuinely can't express the semantics (HTML tokenization).
"""

from .config import DEFAULT_CONFIG, ExtractionConfig

__version__ = "0.1.0"

__all__ = ["DEFAULT_CONFIG", "ExtractionConfig", "__version__"]
