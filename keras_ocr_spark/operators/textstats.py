"""Text-analysis operators for training-data curation: language-ID,
quality scoring, token counting, document fingerprinting.

All four are pure JVM expression pipelines (regexp/array built-ins inside
whole-stage codegen) — no Python workers anywhere, so at 100 TB each is a
single map pass over the scan with column pruning down to (id, text).
Each has an exact DuckDB oracle in ``__spark_entry__.py``.
"""

from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import zipguard
from ..functions.hashing import words_expr
from ..functions.numeric import pround

#: Tiny per-language stopword marker sets (n-gram-heuristic language ID).
#: Deliberately small + ASCII so the same literals work in DuckDB SQL.
LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "a"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "de", "et", "les"],
    "de": ["der", "die", "und", "das", "ist"],
}

#: BPE-ish token pattern: word pieces, numbers, single punctuation.
TOKEN_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def lang_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc stopword hit counts per language + argmax prediction.

    The n-gram-heuristic langid: score(lang) = #occurrences of that
    language's marker words; predicted = argmax with deterministic
    tie-break on language code.
    """
    words = words_expr(F.lower(F.col(text_col)))
    scores = {lang: sum_markers(words, markers) for lang, markers in LANG_MARKERS.items()}
    out = df.select(F.col(id_col).alias("id"), *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS])
    # argmax via greatest + case chain (ties broken by lang order en<es<fr<de alphabetical-ish, deterministic)
    best = F.greatest(*[F.col(f"score_{lang}") for lang in LANG_MARKERS])
    pred = F.lit("unknown")
    for lang in reversed(list(LANG_MARKERS)):
        pred = F.when((F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)).otherwise(pred)
    return out.withColumn("pred_lang", pred)


def sum_markers(words: Column, markers: list) -> Column:
    # One membership-filter pass instead of one interpreted filter PER
    # marker (higher-order functions evaluate per element with no
    # codegen, so M markers cost M full passes over the words array):
    # each word matches at most one marker, so counting words in the
    # marker set equals the sum of per-marker counts exactly.
    if not markers:
        return F.lit(0)
    return F.size(F.filter(words, lambda w: w.isin(*markers)))


def _quality_expr(text: Column) -> Column:
    """The blended 0..1 quality score (long enough, some stopwords, not
    punctuation-soup) as a raw column expression — shared by
    :func:`quality_scores` and :func:`curation_features`."""
    words = words_expr(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    stop_hits = sum_markers(words, LANG_MARKERS["en"])
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9 ]"), 0))
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    return (
        F.least(n_words / F.lit(50.0), F.lit(1.0)) * F.lit(0.4)
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * F.lit(0.4)
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(10.0), F.lit(1.0))) * F.lit(0.2)
    )


def quality_scores(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features + a blended
    0..1 quality score (heuristic curation filter)."""
    text = F.col(text_col)
    words = words_expr(text)
    n_chars = F.length(text)
    n_words = F.size(words)
    stop_hits = sum_markers(words, LANG_MARKERS["en"])
    n_punct = F.size(F.regexp_extract_all(text, F.lit(r"[^a-zA-Z0-9 ]"), 0))
    avg_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, stop_hits / n_words).otherwise(F.lit(0.0))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.alias("n_chars"),
        n_words.alias("n_words"),
        pround(avg_word_len, 6).alias("avg_word_len"),
        pround(stop_ratio, 6).alias("stop_ratio"),
        pround(punct_ratio, 6).alias("punct_ratio"),
        pround(_quality_expr(text), 6).alias("quality"),
    )


def curation_feature_columns(text: Column) -> list:
    """The two curation gate inputs, ``quality`` and ``n_bpe_tokens``, as
    column expressions over ``text`` — for a caller that keeps its other
    columns on the same rows instead of joining them back by id."""
    return [
        pround(_quality_expr(text), 6).alias("quality"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)).alias("n_bpe_tokens"),
    ]


def curation_features(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, quality, n_bpe_tokens) in ONE map-only projection — exactly
    the two gate inputs the curation pipeline consumes. Composing
    ``quality_scores(df) JOIN token_counts(df)`` computes the same
    values but costs a second scan plus a join exchange of both
    corpus-sized sides for what is a single per-row expression; the
    values are identical by construction (same ``_quality_expr`` /
    ``TOKEN_PATTERN`` exprs, pinned in tests)."""
    return df.select(F.col(id_col).alias("id"), *curation_feature_columns(F.col(text_col)))


def token_counts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count."""
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(words_expr(text)).alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0)).alias("n_bpe_tokens"),
    )


def fingerprints(df: DataFrame, n_min: int = 4, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Winnowing-style document fingerprint: md5 of the ``n_min`` smallest
    distinct word hashes (per-row array algebra, no shuffle; robust to
    word order, cheap collision check for near-identical docs)."""
    word_hashes = F.array_sort(F.array_distinct(F.transform(words_expr(F.col(text_col)), F.md5)))
    fp = F.md5(F.concat_ws("|", F.slice(word_hashes, 1, n_min)))
    return df.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))


def unigram_logprob(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Corpus-LM quality proxy: each doc's mean word log-probability
    under the corpus's own unigram distribution (the cheap stand-in
    for KenLM-perplexity filtering — improbable-token soup scores low,
    fluent-for-this-corpus text scores high).

    Two-pass shape: ONE count aggregation builds the unigram table
    (vocabulary-sized — tiny relative to the corpus, F.broadcast), then
    the scoring join + per-doc mean. At 100 TB the frequency table is
    computed once and REUSED across scoring runs (write it; the scoring
    pass is then a single broadcast-join map)."""
    words = df.select(
        F.col(id_col).alias("id"), F.explode(words_expr(F.col(text_col))).alias("word")
    )
    freq = words.groupBy("word").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("t"))
    lp = freq.crossJoin(F.broadcast(total)).select(
        "word", F.log(F.col("c").cast("double") / F.col("t")).alias("lp")
    )
    return (
        words.join(F.broadcast(lp), "word")
        .groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_words"),
            pround(F.avg("lp"), 6).alias("avg_logprob"),
        )
    )


def bigram_logprob(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", alpha: float = 1.0
) -> DataFrame:
    """CCNet-style LM-perplexity filtering, one order up from
    :func:`unigram_logprob`: each doc's mean add-alpha-smoothed bigram
    log-probability ln((c(w1,w2)+α) / (c(w1·)+α·V)) under the corpus's
    OWN bigram distribution. Word-salad that passes the unigram screen
    (right words, wrong order) scores low here; docs with < 2 words are
    excluded (no bigrams to score).

    Plan shape: bigrams are per-row array algebra (transform over
    sequence — no shuffle to BUILD them), then ONE groupBy for the
    bigram table, ONE for the context counts, vocabulary size as a
    1-row broadcast, and the scoring join + per-doc mean. The bigram
    table is corpus-sized-vocab² in theory but Zipf-sparse in practice;
    at 100 TB prune it with a min-count floor before the scoring join
    (the classic KenLM pruning — changes values, so the exact form here
    keeps the oracle bit-true) and REUSE the written table across runs.

    Output: (id, n_bigrams, avg_logprob).
    """
    words = words_expr(F.col(text_col))
    bigrams = F.when(
        F.size(words) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - 1),
            lambda i: F.struct(
                F.element_at(words, i).alias("w1"), F.element_at(words, i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    flat = df.select(F.col(id_col).alias("id"), F.explode(bigrams).alias("b")).select(
        "id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2")
    )
    bc = flat.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    # Context counts derive from the (small) bigram table — c(w1·) is
    # the sum of c(w1,w2) over w2 — instead of re-shuffling the full
    # occurrence stream a second time for the same information.
    uc = bc.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = df.select(F.explode(words_expr(F.col(text_col))).alias("word")).agg(
        F.countDistinct("word").alias("v")
    )
    # Per-bigram log-prob lands on the BIGRAM TABLE (vocab²-bounded,
    # Zipf-sparse — the frame a production LM filter would persist and
    # broadcast), so the corpus-sized occurrence stream is never
    # shuffled for scoring: it probes the broadcast table map-side and
    # goes straight to the per-doc aggregate. The r5 form shuffled the
    # full stream twice (once per scoring join).
    scored_b = (
        bc.join(uc, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c2") + F.lit(alpha)) / (F.col("c1") + F.lit(alpha) * F.col("v"))
            ).alias("lp"),
        )
    )
    scored = flat.join(F.broadcast(scored_b), ["w1", "w2"]).select("id", "lp")
    return scored.groupBy("id").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        pround(F.avg("lp"), 6).alias("avg_logprob"),
    )


def compression_ratios(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document — the classic curation
    signal SQL cannot express (Gopher/CCNet use it both ways: ratios
    near 0 flag pathological repetition, ratios near 1 flag
    high-entropy noise like base64 blobs or mojibake).

    Arrow iterator UDF over stdlib ``zlib`` at a FIXED level
    (6) so the ratio is deterministic for a given zlib build; per-row,
    zero shuffle — one scan at any scale. No SQL oracle exists (DuckDB
    has no deflate), so the registered query takes the driver's
    rows-only check; the value contract is pinned in pytest goldens
    (repetitive text < 0.2, de-duplicated prose in between, random hex
    > 0.5) instead.
    """
    import zlib

    @F.arrow_udf("double")
    def _cr(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()

        def one(t):
            if t is None:
                return None
            raw = t.encode("utf-8")
            if not raw:
                return 1.0
            return round(len(zlib.compress(raw, 6)) / len(raw), 6)

        for texts in batches:
            yield pa.array([one(t) for t in texts.to_pylist()], pa.float64())

    return df.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
        _cr(F.col(text_col)).alias("compression_ratio"),
    )


def nfc_normalize_texts(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Unicode NFC canonicalization — the normalization a dedup/hash
    pipeline must run FIRST: 'e' + U+0301 and precomposed U+00E9 are
    different byte strings (different md5, different shingles, different
    MinHash) for the same visible text, so un-normalized corpora
    under-deduplicate. Arrow-vectorized ``unicodedata.normalize("NFC")``
    per row — map-only, zero shuffle; DuckDB's ``nfc_normalize`` is the
    cross-engine oracle (both implement the same Unicode normal form).

    Output: (id, norm_text, changed, n_cp) — changed flags rows the
    canonicalization actually rewrote; n_cp is the post-NFC codepoint
    count (BMP-safe cross-engine).
    """
    import unicodedata

    @F.arrow_udf("string")
    def _nfc(batches: Iterator[pa.Array]) -> Iterator[pa.Array]:
        zipguard.install()
        for texts in batches:
            yield pa.array(
                [None if t is None else unicodedata.normalize("NFC", t) for t in texts.to_pylist()], pa.string()
            )

    # kernel referenced ONCE in its own projection (three references in
    # one select would plan three Arrow nodes — the r3/r4 double-eval
    # class of waste; pinned by the plan check in tests)
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("_raw"),
        _nfc(F.col(text_col)).alias("norm_text"),
    )
    return staged.select(
        "id",
        "norm_text",
        (~F.col("_raw").eqNullSafe(F.col("norm_text"))).alias("changed"),
        F.length("norm_text").cast("long").alias("n_cp"),
    )


def unigram_kl_drift(
    df: DataFrame,
    slice_col: str = "lang",
    slice_a: str = "en",
    text_col: str = "text",
    alpha: float = 1.0,
) -> DataFrame:
    """Per-word KL-divergence contributions between two corpus slices —
    the distribution-drift monitor every production curation pipeline
    runs between ingest batches / domain mixes (e.g. CCNet's per-snapshot
    language re-balancing, or detecting a crawler regression that shifts
    the token mix). Slice A is ``slice_col == slice_a``; slice B is the
    rest of the corpus. Add-``alpha`` smoothing over the UNION vocabulary
    keeps every term finite; ``sum(kl_term)`` is KL(A || B) in nats.
    The reference's closest analog is its per-dataset character-frequency
    sanity checks before training (recognizer alphabet coverage).

    Plan shape: one explode + ONE word-key groupBy with conditional
    partial aggregation (c_a, c_b in the same agg — map-side combined),
    totals (n_a, n_b, vocab V) as a 1-row broadcast cross join, then a
    map-only scoring projection. No windows, no joins beyond the 1-row
    broadcast; at 100 TB this is the word-count job plus epsilon.

    Output: (word, c_a, c_b, p_a, p_b, kl_term) — probabilities and the
    contribution rounded to 1e-6 for cross-engine hash stability.
    """
    # when/otherwise, not a bare equality cast: a NULL slice value must
    # count toward slice B (the oracle's CASE ... ELSE 0 semantics); the
    # bare `==` yields NULL, which sum() would silently drop — a word
    # seen only in NULL-slice docs would get NULL counts instead of 0/n
    words = df.select(
        F.when(F.col(slice_col) == F.lit(slice_a), F.lit(1)).otherwise(F.lit(0)).alias("ia"),
        F.explode(words_expr(F.col(text_col))).alias("word"),
    )
    counts = words.groupBy("word").agg(
        F.sum("ia").cast("long").alias("c_a"),
        (F.count("*") - F.sum("ia")).cast("long").alias("c_b"),
    )
    tot = counts.agg(
        F.sum("c_a").cast("long").alias("n_a"),
        F.sum("c_b").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("v"),
    )
    p_a = (F.col("c_a") + F.lit(alpha)) / (F.col("n_a") + F.lit(alpha) * F.col("v"))
    p_b = (F.col("c_b") + F.lit(alpha)) / (F.col("n_b") + F.lit(alpha) * F.col("v"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "word",
        "c_a",
        "c_b",
        pround(p_a, 6).alias("p_a"),
        pround(p_b, 6).alias("p_b"),
        pround(p_a * F.log(p_a / p_b), 6).alias("kl_term"),
    )


SENTENCE_RE = "[^.!?]+[.!?]?"


def split_sentences(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Sentence segmentation as a JVM expression pipeline:
    ``regexp_extract_all`` with the lookbehind-free pattern
    ``[^.!?]+[.!?]?`` (DuckDB's RE2 has no lookbehind — the pattern is
    chosen to mean the same thing in Java regex and RE2), posexplode
    for the 1-based sentence index, trim + drop whitespace-only
    pieces. Returns ``{id_col}, sent_idx, sentence``.

    Scale shape: map-only (scan -> regexp -> generate), no Python, no
    shuffle — rows fan out in place. A Python UDTF twin exists in the
    tests as the §2.10 API-surface demonstration; THIS is the hot-path
    form (the UDTF pays an Arrow boundary for the same output,
    asserted equal)."""
    # idx=0 = the whole match (Spark defaults to capture group 1 and
    # errors on a group-free pattern; DuckDB's default is already 0).
    sents = F.expr(f"regexp_extract_all({text_col}, '{SENTENCE_RE}', 0)")
    return (
        df.select(F.col(id_col), F.posexplode(sents).alias("_pos", "_raw"))
        .select(
            id_col,
            (F.col("_pos") + 1).cast("long").alias("sent_idx"),
            F.trim(F.col("_raw")).alias("sentence"),
        )
        .filter(F.col("sentence") != "")
    )
