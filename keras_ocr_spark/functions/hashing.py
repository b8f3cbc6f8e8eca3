"""Portable, engine-agnostic hashing primitives for dedup/fingerprinting.

Everything here is built on ``md5`` hex strings because md5 is bit-exact
and available in BOTH Spark (``F.md5``) and DuckDB (``md5()``), so every
dedup operator gets an exact cross-engine oracle. Lexicographic ``min``
over lowercase-hex strings is a total order identical in both engines
(ASCII), which makes MinHash signatures exactly reproducible — unlike
``xxhash64``/``hash`` whose implementations differ per engine.

Scale note: every signature is computed per row — the JVM shingle
expression below, or the per-document Arrow kernels of
``operators.dedup`` — so there are zero shuffles until the final
candidate-pair join, and that join is an equi-join on the LSH band key
(hash-partitionable, AQE-skew-splittable).
"""

from __future__ import annotations

import hashlib

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


SIMHASH_BITS = 64


def simhash64_py(text: str | None) -> int | None:
    """64-bit SimHash of a single-spaced text (pure Python): the golden
    that ``operators.dedup.simhash_fingerprints``' Arrow kernel is
    checked against.

    Per word, the 64-bit value is the FIRST 16 hex nibbles of md5(word)
    (nibble 1 = most significant) — exactly what the DuckDB oracle
    rebuilds nibble for nibble. The fingerprint is the
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


def simhash_block_key_expr(simhash: Column, block: int) -> Column:
    """16-bit block ``block`` (0=low) of a 64-bit fingerprint. The &65535
    mask makes the result shift-semantics-proof (arithmetic vs logical)."""
    return F.shiftright(simhash, 16 * block).bitwiseAND(F.lit(65535))

