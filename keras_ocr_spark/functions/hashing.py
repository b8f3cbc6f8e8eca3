"""Portable, engine-agnostic hashing primitives for dedup/fingerprinting.

Everything here is built on ``md5`` hex strings because md5 is bit-exact
and available in BOTH Spark (``F.md5``) and DuckDB (``md5()``), so every
dedup operator gets an exact cross-engine oracle. Lexicographic ``min``
over lowercase-hex strings is a total order identical in both engines
(ASCII), which makes MinHash signatures exactly reproducible — unlike
``xxhash64``/``hash`` whose implementations differ per engine.

Scale note: all signature computation is per-row array algebra
(``transform``/``aggregate`` higher-order functions) — zero shuffles
until the final candidate-pair join, and that join is an equi-join on the
LSH band key (hash-partitionable, AQE-skew-splittable).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def words_expr(text: Column) -> Column:
    """Whitespace word split (documents are single-spaced)."""
    return F.split(text, " ")


def shingles_expr(words: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles of a words array (per-row, no shuffle).

    Guarded for short docs: Spark's ``sequence(1, 0)`` DESCENDS ([1, 0])
    rather than returning empty, so size < k must short-circuit.
    """
    idx = F.sequence(F.lit(1), F.size(words) - F.lit(k - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i, k)))
    empty = F.array().cast("array<string>")
    return F.when(F.size(words) >= k, F.array_distinct(grams)).otherwise(empty)


def minhash_expr(shingles: Column, seed: int) -> Column:
    """One MinHash component: min over shingles of md5(seed ':' shingle).

    Returns NULL for shingle-less docs (caller filters).
    """
    return F.array_min(F.transform(shingles, lambda s: F.md5(F.concat(F.lit(f"{seed}:"), s))))


import hashlib

SIMHASH_BITS = 64


def simhash64_py(text: str | None) -> int | None:
    """64-bit SimHash of a single-spaced text (pure Python; the pandas-UDF
    fast path and the cross-engine golden share this).

    Per word, the 64-bit value is the FIRST 16 hex nibbles of md5(word)
    (nibble 1 = most significant) — exactly what the Spark/DuckDB
    expression twins rebuild nibble for nibble. The fingerprint is the
    signed two's-complement int64 (bit 63 contributes -2^63), so it fits
    LongType/BIGINT in both engines.
    """
    if text is None:
        return None
    votes = [0] * SIMHASH_BITS
    for w in text.split(" "):
        v = int(hashlib.md5(w.encode()).hexdigest()[:16], 16)
        for b in range(SIMHASH_BITS):
            votes[b] += 1 if (v >> b) & 1 else -1
    u = 0
    for b in range(SIMHASH_BITS):
        if votes[b] > 0:
            u |= 1 << b
    return u - (1 << 64) if u >= (1 << 63) else u


def word_nibbles_expr(words: Column) -> Column:
    """array<array<int>>: per word, the 16 leading nibble values of
    md5(word). Materialize this ONCE in its own projection before
    :func:`simhash64_from_nibbles_expr` — inlining it per bit makes
    Catalyst optimize a pathologically large tree (same plan-hygiene
    lesson as minhash_signatures_sql)."""

    def nib(w: Column, i: int) -> Column:
        return F.instr(F.lit(HEX), F.substring(F.md5(w), i, 1)) - F.lit(1)

    return F.transform(words, lambda w: F.array(*[nib(w, i) for i in range(1, 17)]))


def simhash64_from_nibbles_expr(nibs: Column) -> Column:
    """64-bit SimHash from precomputed per-word nibble arrays — the pure
    JVM expression twin of :func:`simhash64_py` (equality asserted in
    tests). Bit b lives in nibble 16 - b//4 (1-based from the left), at
    within-nibble position b%4."""
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        j = 16 - b // 4  # 1-based nibble index from the left
        k = b % 4

        def vote_of(n: Column, j: int = j, k: int = k) -> Column:
            return F.when(F.shiftright(n[j - 1], k).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(F.lit(-1))

        vote = F.aggregate(nibs, F.lit(0), lambda acc, n: acc + vote_of(n))
        contrib = F.lit(-(1 << 63)) if b == 63 else F.lit(1 << b)
        out = out + F.when(vote > 0, contrib.cast("long")).otherwise(F.lit(0).cast("long"))
    return out


def simhash_block_key_expr(simhash: Column, block: int) -> Column:
    """16-bit block ``block`` (0=low) of a 64-bit fingerprint. The &65535
    mask makes the result shift-semantics-proof (arithmetic vs logical)."""
    return F.shiftright(simhash, 16 * block).bitwiseAND(F.lit(65535))

