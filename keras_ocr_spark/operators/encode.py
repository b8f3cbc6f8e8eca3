"""Label/vocabulary encoding + alphabet predicates + seeded shuffle.

Graft of the reference's recognizer-input preparation:

- **vocab encode** — ``[alphabet.index(c) for c in sentence] + [-1]*pad``
  (``/root/reference/keras_ocr/recognition.py:450-459``): char -> label
  index via a broadcast vocabulary, padded with -1 to a fixed length.
  This is the LLM-pipeline "tokenize to ids" primitive at char level.
- **alphabet char filter** — keep only chars in the alphabet + cap length
  (``data_generation.py:148-156``, ``datasets.py:465-467``): a
  ``regexp_replace`` char-class strip (the reference's per-char loop).
- **font-support predicate** — "does this font cover the alphabet"
  (``data_generation.py:115-137``): recast per-document as "is every
  char of this text inside the supported set", a broadcast-set
  membership via ``forall`` over a map literal.
- **epoch shuffle** — per-epoch deterministic reshuffle
  (``datasets.py:379-381``, ``data_generation.py:637-653``): order by a
  seeded hash of the key. md5-based so the permutation is reproducible
  in ANY engine (unlike rand(seed), whose stream is engine-specific).

All pure JVM expressions — map-only passes at 100 TB except the shuffle,
which is the one operator whose JOB is a total reorder (positions come
from the bucketed prefix scan of ``operators/packing.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .packing import md5_prefix_bucket, prefix_sum

#: The reference's default alphabet (recognition.py:25):
#: string.digits + string.ascii_lowercase.
DEFAULT_ALPHABET = "0123456789abcdefghijklmnopqrstuvwxyz"

#: Shuffle-key buckets of the position scan.
_N_BUCKETS = 64


def vocab_map(alphabet: str) -> Column:
    """char -> label-index map literal (the broadcast vocabulary; ships
    inside the plan like a broadcast variable)."""
    pairs = []
    for i, c in enumerate(alphabet):
        pairs.extend([F.lit(c), F.lit(i)])
    return F.create_map(*pairs)


def vocab_encode_expr(text: Column, alphabet: str = DEFAULT_ALPHABET, max_len: int = 32) -> Column:
    """text -> array<int> of exactly ``max_len`` label ids, -1-padded
    (recognition.py:455-459). Chars beyond ``max_len`` are truncated
    (the reference asserts length instead; truncation is the pipeline-
    friendly choice and mirrors get_text_generator's cap at
    data_generation.py:154-155). Unknown chars encode as -1."""
    m = vocab_map(alphabet)
    idx = F.sequence(F.lit(1), F.lit(max_len))
    return F.transform(
        idx,
        lambda i: F.when(
            i <= F.length(text), F.coalesce(F.element_at(m, text.substr(i, F.lit(1))), F.lit(-1))
        ).otherwise(F.lit(-1)),
    )


def vocab_encode(
    df: DataFrame,
    alphabet: str = DEFAULT_ALPHABET,
    max_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """id -> (label_length, labels) exactly like the recognizer batch
    encoder (recognition.py:450-459): length BEFORE padding, ids padded
    with -1. Text is pre-filtered to the alphabet (the reference asserts
    every char is legal; we strip, as its text generator does)."""
    clean = alphabet_filter_expr(F.col(text_col), alphabet)
    return df.select(
        F.col(id_col).alias("id"),
        F.least(F.length(clean), F.lit(max_len)).alias("label_length"),
        vocab_encode_expr(clean, alphabet, max_len).alias("labels"),
    )


def alphabet_filter_expr(text: Column, alphabet: str = DEFAULT_ALPHABET) -> Column:
    """Keep only alphabet chars (lowercased first, as
    data_generation.py:150-152 does). The alphabet is a char class —
    callers must pass class-safe alphabets (ours are alnum + space)."""
    return F.regexp_replace(F.lower(text), f"[^{alphabet}]", "")


def font_support_expr(text: Column, supported: str) -> Column:
    """TRUE iff every char of ``text`` (lowercased) is inside the
    supported set — broadcast-set membership via ``forall`` + map
    literal, the font_supports_alphabet cmap check
    (data_generation.py:115-137) with text and font swapped (same
    predicate, dataset-side)."""
    m = vocab_map(supported)
    chars = F.split(F.lower(text), "")
    return F.forall(chars, lambda c: (F.length(c) == 0) | F.element_at(m, c).isNotNull())


def epoch_shuffle_key_expr(key: Column, seed: int) -> Column:
    """Deterministic per-epoch shuffle key: md5(seed ':' key). Ordering
    by it is a seeded permutation reproducible across engines/epochs."""
    return F.md5(F.concat(F.lit(f"{seed}:"), key.cast("string")))


def epoch_shuffle(df: DataFrame, seed: int, key_col: str = "doc_id") -> DataFrame:
    """Deterministic seeded reshuffle with explicit positions —
    datasets.py:379-381 per-epoch random.shuffle. The position is the
    rank over (shuffle key, key): :func:`packing.prefix_sum` over a
    column of ones, bucketed by the shuffle key's leading md5 bits, so
    no task sorts the whole frame. A NULL key sorts first, as in
    Spark's ascending order."""
    k = epoch_shuffle_key_expr(F.col(key_col), seed)
    order = [k.asc(), F.col(key_col).asc()]
    return prefix_sum(
        df, F.lit(1), order, md5_prefix_bucket(k, _N_BUCKETS), _N_BUCKETS, "shuffle_pos"
    )


def bpe_pair_counts(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
    min_word_len: int = 2,
) -> DataFrame:
    """One round of BPE-tokenizer training (Sennrich et al. 2016): the
    corpus-wide counts of adjacent symbol pairs, here at the character
    level over lowercased alphabetic words. Returns the ``top_n`` pairs
    as ``(pair, n)``, ordered (n DESC, pair ASC) so the cut is total
    and deterministic.

    The classic two-stage shape that makes BPE training tractable at
    corpus scale: aggregate words to (word, count) FIRST (the word
    vocabulary is tiny next to the corpus — Zipf), then explode each
    distinct word's adjacent pairs weighted by its count. Two
    partial-agg shuffles + one TakeOrdered; all expression-only (the
    pair explode is ``transform(sequence(...))`` array algebra per
    distinct word, guarded against Spark's descending ``sequence(1, 0)``
    by the ``min_word_len`` filter).
    """
    if min_word_len < 2:
        raise ValueError("min_word_len must be >= 2 (pairs need 2 symbols)")
    words = (
        df.select(
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit("[a-z]+"), 0)
            ).alias("w")
        )
        .filter(F.length("w") >= min_word_len)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - F.lit(1)),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "cnt",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("cnt").cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(top_n)
    )
