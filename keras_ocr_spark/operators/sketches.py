"""Count-Min sketch (frequency) and the heavy-hitter query built on it.

The fixed-size-summary answer to 100 TB aggregation: the sketch is
bounded-size state (d*w cells TOTAL regardless of corpus size), built
with ONE map-side-combinable groupBy, and its cells add across shards.
Reference analog: the recognizer's alphabet/frequency audits over its
training corpus (keras_ocr ``recognition.py:61-74``), lifted to
sublinear sketch form.

Cross-engine exactness (the repo's oracle bar): every hash is the md5
hex-prefix integer convention from ``functions/hashing.py`` and every
cell id is integer arithmetic, so Spark and DuckDB agree to the bit —
the value hash attests the sketch itself, not a tolerance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import words_expr

#: md5 hex prefix length: 13 nibbles = 52 bits, safely inside int64.
_HEX_LEN = 13
_HASH_BITS = 4 * _HEX_LEN


def _h52(col):
    """52-bit integer from the md5 hex prefix (same convention as the
    weighted-sample draws and MinHash order keys)."""
    return F.conv(F.substring(F.md5(col), 1, _HEX_LEN), 16, 10).cast("long")


# ---------------------------------------------------------------------------
# Count-Min


def _cms_buckets(value, d: int, w: int) -> list:
    """The d bucket ids of a value: ONE md5 per value, sliced into
    disjoint ``log2(w)``-bit fields (the single-strong-hash trick — cf.
    Kirsch & Mitzenmacher 2006 for the Bloom-filter analysis; md5 bits
    are independent, so disjoint slices act as independent hashes).
    Requires ``d * log2(w) <= 52`` — validated by the callers."""
    bits = (w - 1).bit_length()
    h = _h52(value)
    return [
        F.pmod(F.shiftright(h, bits * i), F.lit(w)).cast("int") for i in range(d)
    ]


def _cms_validate(d: int, w: int) -> None:
    if d < 1 or w < 2:
        raise ValueError("need d >= 1 and w >= 2")
    if w & (w - 1):
        raise ValueError("w must be a power of two (bucket = hash bit-slice)")
    if d * (w - 1).bit_length() > _HASH_BITS:
        raise ValueError(f"d * log2(w) must be <= {_HASH_BITS} (one 52-bit hash is sliced)")


def cms_sketch(df: DataFrame, value_col: str, d: int = 4, w: int = 256) -> DataFrame:
    """Count-Min sketch of a value column: ``(row, bucket, cnt)`` with at
    most ``d*w`` rows TOTAL (Cormode & Muthukrishnan 2005). Each value
    increments one bucket per hash row; the build is one exploded
    projection + one map-side-combined groupBy whose output size is the
    sketch, not the data. One md5 per value (see :func:`_cms_buckets`).
    """
    _cms_validate(d, w)
    buckets = _cms_buckets(F.col(value_col), d, w)
    cells = F.array(
        *[
            F.struct(F.lit(i).alias("row"), b.alias("bucket"))
            for i, b in enumerate(buckets)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_estimate(values: DataFrame, sketch: DataFrame, value_col: str, d: int = 4, w: int = 256) -> DataFrame:
    """Point-query a set of candidate values against a sketch:
    ``(value_col, cms_count)`` where cms_count = min over the d rows —
    an OVERESTIMATE of the true frequency, never an undercount. The
    sketch side is <= d*w rows and broadcast; the probe is a map-side
    join + a d-row min per value.
    """
    _cms_validate(d, w)
    buckets = _cms_buckets(F.col(value_col), d, w)
    probes = values.select(
        value_col,
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("row"), b.alias("bucket"))
                    for i, b in enumerate(buckets)
                ]
            )
        ).alias("c"),
    ).select(value_col, F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(sketch), ["row", "bucket"])
        .groupBy(value_col)
        .agg(F.min("cnt").alias("cms_count"))
    )


def cms_heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 256,
    top_n: int = 20,
) -> DataFrame:
    """Top-``top_n`` words by CMS-estimated frequency over a text corpus
    (ties break on the word so the cut is a total order).

    Build: explode words (occurrences, not distinct) -> sketch (d*w
    cells) -> probe the DISTINCT word set against the broadcast sketch
    -> TakeOrdered. At scale the only full-data shuffles are the two
    bounded groupBys (sketch cells; distinct words) — no join ever
    carries the corpus.
    """
    tok = df.select(F.explode(words_expr(F.col(text_col))).alias("word"))
    sketch = cms_sketch(tok, "word", d, w)
    words = tok.distinct()
    est = cms_estimate(words, sketch, "word", d, w)
    return est.orderBy(F.desc("cms_count"), F.asc("word")).limit(top_n)
