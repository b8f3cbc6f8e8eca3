"""Hashing-trick linear text classifier inference (fastText-style).

The quality-filter shape used by CCNet / LLaMA-style data pipelines: a
linear model over hashed bag-of-words + word-bigram features scored at
corpus scale (Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification"; Weinberger et al. 2009 hashing trick). Inference is a
ZERO-SHUFFLE projection: tokenize, hash each unigram/bigram into one of
``n_buckets`` feature slots, sum the slots' weights — all per-row array
algebra (``transform``/``aggregate`` higher-order functions), so at
100 TB the plan is scan → project with no exchange, no UDF, and the
filter predicate (``logit > 0``) pushes into the same stage.

Weights: a real deployment broadcasts learned weights as an array or
map literal of <= n_buckets values. Here weights are derived from the bucket id by the repo's
md5-prefix integer convention (``functions/hashing.py``) so the DuckDB
oracle reproduces every feature hash, every weight, and every logit
bit-for-bit — integer milli-units end to end, no float accumulation.

Reference analog: the recognizer's per-sample alphabet/label filters
(/root/reference/keras_ocr/datasets.py:438-444) as a learned scorer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import words_expr

#: md5 hex prefix length: 13 nibbles = 52 bits, safely inside int64.
_HEX_LEN = 13

#: Weight fixed point: integer milli-units in [-_W_SCALE, _W_SCALE].
_W_SCALE = 1000


def _h52(col: Column) -> Column:
    return F.conv(F.substring(F.md5(col), 1, _HEX_LEN), 16, 10).cast("long")


def _validate(n_buckets: int) -> None:
    if n_buckets < 2 or n_buckets & (n_buckets - 1):
        raise ValueError("n_buckets must be a power of two >= 2")


def feature_bucket(token: Column, n_buckets: int) -> Column:
    """Hashing-trick feature slot of a token: ``h52(token) % n_buckets``
    (h52 is non-negative, so ``%`` == pmod in both engines)."""
    return F.pmod(_h52(token), F.lit(n_buckets))


def bucket_weight(bucket: Column) -> Column:
    """Deterministic milli-unit weight of a feature slot, derived from
    the slot id (stands in for a learned weight vector; swap for an
    ``element_at(weights_literal, bucket+1)`` lookup when weights come
    from training): ``h52('w:' || bucket) % (2*scale+1) - scale``."""
    h = _h52(F.concat(F.lit("w:"), bucket.cast("string")))
    return (F.pmod(h, F.lit(2 * _W_SCALE + 1)) - F.lit(_W_SCALE)).cast("long")


def bigrams_expr(words: Column) -> Column:
    """Adjacent word bigrams joined with '_' (fastText wordNgrams=2),
    frequency-preserving (no distinct — repeated bigrams vote again).
    Guarded for 1-token docs (``sequence(1, 0)`` DESCENDS in Spark)."""
    idx = F.sequence(F.lit(1), F.size(words) - F.lit(1))
    grams = F.transform(
        idx,
        lambda i: F.concat(F.element_at(words, i), F.lit("_"), F.element_at(words, i + 1)),
    )
    return F.when(F.size(words) >= 2, grams).otherwise(F.array().cast("array<string>"))


def score_documents(
    df: DataFrame,
    text_col: str = "text",
    id_cols: tuple = ("doc_id",),
    n_buckets: int = 1024,
) -> DataFrame:
    """Per-document linear logit over hashed unigram + bigram features:
    ``id_cols..., n_tokens, logit_milli, quality_label`` — one
    whole-stage-codegen projection, zero exchanges.

    ``logit_milli`` is the exact int64 sum of milli-unit feature
    weights (integer addition — associative, so any engine/partitioning
    agrees to the bit); ``quality_label`` = 1 iff the logit is positive
    (the sigmoid threshold 0.5 without evaluating a sigmoid)."""
    _validate(n_buckets)
    words = words_expr(F.col(text_col))
    feats = F.concat(words, bigrams_expr(words))
    weights = F.transform(feats, lambda t: bucket_weight(feature_bucket(t, n_buckets)))
    logit = F.aggregate(weights, F.lit(0).cast("long"), lambda acc, x: acc + x)
    return df.select(
        *id_cols,
        F.size(words).cast("long").alias("n_tokens"),
        logit.alias("logit_milli"),
        (logit > 0).cast("int").alias("quality_label"),
    )
