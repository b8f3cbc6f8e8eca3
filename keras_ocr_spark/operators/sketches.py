"""Mergeable sketches: Count-Min (frequency), Bloom (membership), and
HDR log-bucket histogram (quantiles).

The fixed-size-summary answer to 100 TB aggregation: every sketch is
bounded-size state (CMS: d*w cells TOTAL regardless of corpus size;
Bloom: m_bits / 32 words; HDR: a bounded bucket set per group), built
with ONE map-side-combinable groupBy, and mergeable (CMS: elementwise
sum; Bloom: bitwise or; HDR: per-bucket sum) — so shards, days, or
streaming micro-batches combine without re-reading data.
Reference analog: the recognizer's alphabet/frequency audits over its
training corpus (keras_ocr ``recognition.py:61-74``), lifted to
sublinear sketch form.

Cross-engine exactness (the repo's oracle bar): every hash is the md5
hex-prefix integer convention from ``functions/hashing.py`` and every
cell, bit and bucket id is integer arithmetic (HDR first quantizes each
value to int64 fixed point), so Spark and DuckDB agree to the bit —
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


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Sketches of disjoint shards ADD cell-wise."""
    return a.unionByName(b).groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


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

# ---------------------------------------------------------------------------
# Bloom filter


def _bloom_validate(k: int, m_bits: int) -> None:
    if k < 1:
        raise ValueError("need k >= 1 hash functions")
    if m_bits < 64 or m_bits & (m_bits - 1):
        raise ValueError("m_bits must be a power of two >= 64 (position = hash bit-slice)")
    if k * (m_bits - 1).bit_length() > _HASH_BITS:
        raise ValueError(f"k * log2(m_bits) must be <= {_HASH_BITS} (one 52-bit hash is sliced)")


def _bloom_positions(value, k: int, m_bits: int) -> list:
    """The k bit positions of a value in [0, m_bits): ONE md5 per value
    sliced into disjoint ``log2(m_bits)``-bit fields, exactly the CMS
    convention (see :func:`_cms_buckets`)."""
    bits = (m_bits - 1).bit_length()
    h = _h52(value)
    return [F.pmod(F.shiftright(h, bits * i), F.lit(m_bits)).cast("int") for i in range(k)]


def bloom_build(df: DataFrame, value_col: str, k: int = 4, m_bits: int = 4096) -> DataFrame:
    """Bloom filter of a value column as ``(word_idx, bits)`` rows —
    at most ``m_bits / 32`` rows TOTAL regardless of input size (Bloom
    1970). Bit ``p`` lives in word ``p >> 5`` at offset ``p & 31``:
    32 bits per int64 word keeps every stored value positive and every
    shift strictly below 2^32, so Spark and DuckDB agree to the bit
    with no sign-extension edge anywhere.

    The membership summary that completes the sketch family (CMS =
    frequency, Bloom = membership): at 100 TB the
    128-word filter BROADCASTS in place of a multi-gigabyte semi-join
    build side, pruning a fact scan down to probable matches before the
    exact join runs. Build is one exploded projection + one map-side-
    combined bit_or groupBy whose output is the filter, not the data;
    shards/days merge by elementwise OR (:func:`bloom_merge`).

    NO false negatives ever (a member's k bits are all set by
    construction); false-positive rate ~ (1 - e^(-k*n/m))^k.
    """
    _bloom_validate(k, m_bits)
    positions = _bloom_positions(F.col(value_col), k, m_bits)
    pos = df.select(F.explode(F.array(*positions)).alias("p"))
    return (
        pos.select(
            F.shiftright(F.col("p"), 5).alias("word_idx"),
            F.pmod(F.col("p"), F.lit(32)).alias("bit"),
        )
        .groupBy("word_idx")
        .agg(F.expr("bit_or(shiftleft(CAST(1 AS BIGINT), bit))").alias("bits"))
    )


def bloom_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Filters over disjoint (or overlapping — OR is idempotent) shards
    merge by elementwise bitwise OR per word."""
    return a.unionByName(b).groupBy("word_idx").agg(F.expr("bit_or(bits)").alias("bits"))


def bloom_probe(
    values: DataFrame,
    bloom: DataFrame,
    value_col: str,
    k: int = 4,
    m_bits: int = 4096,
) -> DataFrame:
    """Probe candidate values against a filter: adds ``bloom_maybe``
    (1 = possibly present, 0 = DEFINITELY absent). The filter side is
    <= m_bits/32 rows and broadcast; the probe is a map-side join + a
    k-row conjunction per value — no shuffle ever carries the corpus.
    A word with no set bits has no filter row at all, so the left join's
    NULL short-circuits that probe bit to unset."""
    _bloom_validate(k, m_bits)
    positions = _bloom_positions(F.col(value_col), k, m_bits)
    probes = values.select(
        "*",
        F.explode(F.array(*positions)).alias("p"),
    ).select(
        "*",
        F.shiftright(F.col("p"), 5).alias("word_idx"),
        F.pmod(F.col("p"), F.lit(32)).alias("bit"),
    ).drop("p")
    hit = F.when(
        F.col("bits").isNotNull() & (F.expr("(bits >> bit) & 1") == 1), F.lit(1)
    ).otherwise(F.lit(0))
    group_cols = [c for c in values.columns]
    return (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select(*group_cols, hit.alias("_hit"))
        .groupBy(*group_cols)
        .agg((F.sum("_hit") == F.lit(k)).cast("int").alias("bloom_maybe"))
    )


def bloom_collect(bloom: DataFrame, m_bits: int = 4096) -> list:
    """Densify a ``(word_idx, bits)`` filter frame into a Python list of
    ``m_bits/32`` int64 words (missing words = 0). Control-plane only:
    the frame is <= m_bits/32 rows by construction."""
    words = [0] * (m_bits >> 5)
    for row in bloom.collect():
        words[row["word_idx"]] = row["bits"]
    return words


def with_bloom_maybe(
    df: DataFrame,
    words: list,
    value_col: str,
    k: int = 4,
    m_bits: int = 4096,
    out_col: str = "bloom_maybe",
) -> DataFrame:
    """ZERO-SHUFFLE membership test: the collected filter becomes an
    array literal and the probe is a pure projection — the shape that
    prunes a 100 TB fact scan before its join (Spark's own runtime
    bloom-join pushdown, made explicit). Adds ``out_col`` (int 1/0;
    0 = DEFINITELY absent, 1 = possibly present).

    Intermediate columns are named because the per-row shift
    ``(word >> bit) & 1`` only exists in the SQL expression form (the
    Python ``F.shiftright`` wrapper takes a literal shift count)."""
    _bloom_validate(k, m_bits)
    if len(words) != (m_bits >> 5):
        raise ValueError(f"words must have exactly {m_bits >> 5} entries (use bloom_collect)")
    arr = F.array(*[F.lit(int(w)).cast("long") for w in words])
    out = df
    tmp = []
    for i, p in enumerate(_bloom_positions(F.col(value_col), k, m_bits)):
        w, b, h = f"_blw{i}", f"_blb{i}", f"_blh{i}"
        out = (
            out.withColumn(w, F.element_at(arr, (F.shiftright(p, 5) + 1).cast("int")))
            .withColumn(b, F.pmod(p, F.lit(32)))
            .withColumn(h, F.expr(f"(({w} >> {b}) & 1)"))
        )
        tmp += [w, b, h]
    cond = F.lit(True)
    for i in range(k):
        cond = cond & (F.col(f"_blh{i}") == 1)
    return out.withColumn(out_col, cond.cast("int")).drop(*tmp)


# ==========================================================================
# HDR-style quantile sketch (integer log-buckets, mergeable)
# ==========================================================================

#: Sub-bucket bits per octave: 16 sub-buckets -> relative error <= 1/16.
_HDR_SUB_BITS = 4


def _hdr_validate(sub_bits: int) -> None:
    if not 1 <= sub_bits <= 8:
        raise ValueError("sub_bits must be in [1, 8]")


def _hdr_bucket(sub_bits: int):
    """Bucket id of the non-negative integer column ``_cents`` — pure
    integer ops only (``length(bin(x))`` = floor(log2)+1, ``>>``), both
    proven bit-identical in Spark and DuckDB. Values below
    ``2^(sub_bits+1)`` map to themselves (EXACT); above, the id is
    ``shift * 2^sub_bits + (x >> shift)`` with ``shift = floor(log2(x))
    - sub_bits`` — monotone, contiguous, <= 2^sub_bits ids per octave."""
    s = sub_bits
    small = 1 << (s + 1)
    return F.expr(
        f"CASE WHEN _cents < {small} THEN _cents "
        f"ELSE (length(bin(_cents)) - {s + 1}) * {1 << s} "
        f"     + (_cents >> (length(bin(_cents)) - {s + 1})) END"
    ).cast("long")


def _hdr_lb(sub_bits: int):
    """Exact integer lower bound of a bucket id (inverts
    :func:`_hdr_bucket`): small ids ARE their value; otherwise
    ``((id % 2^s) + 2^s) << (id div 2^s - 1)``."""
    s = sub_bits
    small = 1 << (s + 1)
    m = 1 << s
    return F.expr(
        f"CASE WHEN bucket < {small} THEN bucket "
        f"ELSE ((bucket % {m}) + {m}) << (bucket div {m} - 1) END"
    ).cast("long")


def hdr_histogram(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    sub_bits: int = _HDR_SUB_BITS,
    scale: int = 100,
) -> DataFrame:
    """Per-group HDR/DDSketch-style log-bucket histogram:
    ``key_cols..., bucket, cnt`` — the quantile summary that completes
    the sketch family (CMS = frequency, Bloom = membership,
    HDR = quantiles; Dynatrace HdrHistogram / Masson et al.
    2019 DDSketch, deterministic variant).

    Values are quantized to NON-NEGATIVE int64 fixed point
    (``floor(v * scale + 0.5)``; negative inputs are outside the
    contract) and bucketed by octave + ``2^sub_bits`` sub-buckets, so
    relative error is <= ``2^-sub_bits`` while the state is bounded:
    at most ``2^sub_bits * 63`` rows per group no matter the input
    size, built by ONE map-side-combined groupBy. Unlike rank-exact
    :mod:`operators.ranking` percentiles (a shuffle of the data), this
    is O(buckets) state that shards/days/micro-batches merge exactly
    (:func:`hdr_merge`) — the same delta-fold discipline as
    ``operators/incremental.py``, whose state row it slots into.

    Every op is integer (quantize, bin-length, shift), so Spark and
    DuckDB agree to the bit — the oracle rebuilds every bucket and the
    quantile readout exactly, not to a tolerance. Reference analog: the
    recognizer's corpus length/size audits
    (/root/reference/keras_ocr/recognition.py:61-74) in sublinear form.
    """
    _hdr_validate(sub_bits)
    cents = F.floor(F.col(value_col) * F.lit(int(scale)) + F.lit(0.5)).cast("long")
    return (
        df.select(*key_cols, cents.alias("_cents"))
        .select(*key_cols, _hdr_bucket(sub_bits).alias("bucket"))
        .groupBy(*key_cols, "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def hdr_merge(a: DataFrame, b: DataFrame, key_cols: list[str]) -> DataFrame:
    """Histograms over shards merge by per-bucket count addition —
    int64 adds, so merge(state(A), state(B)) == state(A UNION ALL B)
    bit-for-bit under any partitioning."""
    return (
        a.unionByName(b)
        .groupBy(*key_cols, "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )


def hdr_quantiles(
    hist: DataFrame,
    key_cols: list[str],
    permilles: tuple = (500, 900, 990),
    sub_bits: int = _HDR_SUB_BITS,
) -> DataFrame:
    """Quantile readout from a histogram: for each permille ``pm`` the
    EXACT integer lower bound of the bucket holding rank
    ``ceil(n * pm / 1000)`` (integer ceiling ``(n*pm + 999) div 1000``
    — no float rank anywhere, so engines cannot disagree at rank
    boundaries). Emits ``n_rows``, ``n_buckets``, and one
    ``p{pm}_cents_lb`` per permille. The windows partition by group
    over BUCKET rows (bounded state), never over the data."""
    _hdr_validate(sub_bits)
    for pm in permilles:
        if not 1 <= int(pm) <= 1000:
            raise ValueError("permilles must be integers in [1, 1000]")
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy(*key_cols)
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*key_cols)
    g = hist.select(
        *key_cols,
        "bucket",
        "cnt",
        F.sum("cnt").over(w_cum).alias("_cum"),
        F.sum("cnt").over(w_all).alias("_n"),
        _hdr_lb(sub_bits).alias("_lb"),
    )
    aggs = [
        F.max("_n").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_buckets"),
    ]
    for pm in permilles:
        rank = F.expr(f"(_n * {int(pm)} + 999) div 1000")
        aggs.append(
            F.min(F.when(F.col("_cum") >= rank, F.col("_lb")))
            .cast("long")
            .alias(f"p{int(pm)}_cents_lb")
        )
    return g.groupBy(*key_cols).agg(*aggs)
