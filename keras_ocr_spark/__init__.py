"""keras_ocr_spark — a brand-new PySpark-native detect-then-extract engine.

Recasts the two-stage design of faustomorales/keras-ocr (CRAFT region
proposal + CRNN/CTC decoding; reference snapshot at /root/reference) as a
distributed main-content extraction pipeline over transcript tables
(conv_id, turn_idx, role, text, tool, ts): stage 1 proposes content spans
per turn via DOM-node scoring inside an Arrow-vectorized pandas UDF, which
also decodes each span; a per-row projection reassembles clean text under
a stable (conv_id, turn_idx) ordering, with no shuffle.

Spark-first: DataFrame/SQL + Catalyst everywhere; pandas UDFs only where
built-ins genuinely can't express the semantics (HTML tokenization).
"""

from .config import DEFAULT_CONFIG, ExtractionConfig

__version__ = "0.1.0"

__all__ = ["DEFAULT_CONFIG", "ExtractionConfig", "__version__"]
