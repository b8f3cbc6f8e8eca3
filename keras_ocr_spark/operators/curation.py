"""Corpus-curation operators beyond dedup: repetition statistics
(Gopher-style quality gates), train/eval contamination detection,
PII scrubbing, and deterministic stratified sampling.

Reference analog: the quality predicates of the dataset loaders
(``/root/reference/keras_ocr/datasets.py:175-187`` — legibility /
language / ``percent_complete`` filters deciding which samples enter
training) lifted from per-image metadata to per-document text
statistics, which is what the same gate looks like in an LLM-data
pipeline.

Scale notes (the point of each design):

- ``repetition_stats`` is a PURE map pass — every statistic, including
  the longest consecutive word run, is per-row array algebra inside
  whole-stage codegen. No shuffle, no Python. At 100 TB it is one scan.
- ``contamination_pairs`` broadcasts the (small) eval-set shingle
  vocabulary and counts hits with ONE broadcast hash join + one
  aggregation keyed by doc — the doc side never shuffles its text,
  only (id, shingle) pairs, and the eval side is the broadcast.
- ``pii_scrub`` is a map pass of ``regexp_replace`` chains; the regexes
  are written in the RE2 ∩ Java-regex dialect so the DuckDB oracle is
  bit-exact.
- ``stratified_sample`` uses a window PARTITIONED by the stratum — the
  scalable window shape (each stratum sorts independently; no global
  order) — with an md5 systematic order so the sample is deterministic
  and engine-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.hashing import shingles_expr, words_expr
from ..functions.numeric import pround
from .packing import md5_prefix_bucket, prefix_sum

#: Email + North-American-phone patterns, restricted to the syntax
#: subset Java regex and RE2 (DuckDB) parse identically.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition features, all per-row (map-only):

    - ``dup_word_frac``: 1 - distinct/total words (bag repetitiveness);
    - ``top_bigram_frac``: occurrences of the most frequent word bigram
      over total bigrams (catches looped phrases);
    - ``max_word_run``: longest run of consecutive identical words
      (catches "batch batch batch" stutter);
    - ``rep_flagged``: the curation gate over the above.

    The bigram top count is O(distinct² ) per row — bounded by document
    length, embarrassingly parallel, and still zero-shuffle; the run
    length is a single left fold (``F.aggregate``).
    """
    words = words_expr(F.col(text_col))
    n_words = F.size(words)
    n_distinct = F.size(F.array_distinct(words))
    dup_word_frac = F.when(
        n_words > 0, F.lit(1.0) - n_distinct.cast("double") / n_words
    ).otherwise(F.lit(0.0))

    n_big = n_words - F.lit(1)
    bigrams = F.zip_with(
        F.slice(words, 1, n_big),
        F.slice(words, 2, n_big),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    top_bigram_n = F.when(
        n_words >= 2,
        F.array_max(
            F.transform(
                F.array_distinct(bigrams),
                lambda g: F.size(F.filter(bigrams, lambda x: x == g)),
            )
        ),
    ).otherwise(F.lit(0))
    top_bigram_frac = F.when(
        n_words >= 2, top_bigram_n.cast("double") / n_big
    ).otherwise(F.lit(0.0))

    # longest consecutive equal-word run: left fold carrying
    # (previous word, current run, best run).
    run_state = F.aggregate(
        words,
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        lambda acc, w: F.struct(
            w.alias("prev"),
            F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"],
                F.when(w == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
            ).alias("best"),
        ),
    )
    max_word_run = F.when(n_words > 0, run_state["best"]).otherwise(F.lit(0))

    # The bigram gate only fires on docs long enough for the fraction
    # to be meaningful (Gopher applies its 2-gram rule to full web
    # documents; at < 20 words a single repeat dominates the ratio).
    flagged = (
        (dup_word_frac > F.lit(0.5))
        | ((top_bigram_frac > F.lit(0.18)) & (n_words >= F.lit(20)))
        | (max_word_run >= F.lit(3))
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_words.cast("long").alias("n_words"),
        pround(dup_word_frac, 6).alias("dup_word_frac"),
        pround(top_bigram_frac, 6).alias("top_bigram_frac"),
        max_word_run.cast("long").alias("max_word_run"),
        flagged.alias("rep_flagged"),
    )


def contamination_pairs(
    docs: DataFrame,
    eval_docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-training-doc overlap with the eval-set shingle vocabulary
    (train/test contamination check, the n-gram-overlap form used for
    pretraining-corpus decontamination).

    Plan: the eval side collapses to its DISTINCT word-``k``-gram
    vocabulary (small — eval sets are; explicitly ``F.broadcast``); the
    train side explodes its distinct shingles and counts hits with one
    broadcast hash join + one groupBy(id). Emits
    ``(id, n_shingles, n_hit, contamination)`` for every train doc
    with at least one shingle.
    """
    t_sh = docs.select(
        F.col(id_col).alias("id"),
        shingles_expr(words_expr(F.col(text_col)), k).alias("shingles"),
    ).filter(F.size("shingles") > 0)
    e_vocab = (
        eval_docs.select(
            F.explode(shingles_expr(words_expr(F.col(text_col)), k)).alias("shingle")
        )
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    exploded = t_sh.select(
        "id", F.size("shingles").alias("n_shingles"), F.explode("shingles").alias("shingle")
    )
    joined = exploded.join(F.broadcast(e_vocab), "shingle", "left")
    out = joined.groupBy("id").agg(
        F.max("n_shingles").alias("n_shingles"),
        F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
    )
    return out.select(
        "id",
        F.col("n_shingles").cast("long").alias("n_shingles"),
        F.col("n_hit").cast("long").alias("n_hit"),
        pround(F.col("n_hit").cast("double") / F.col("n_shingles"), 6).alias(
            "contamination"
        ),
    )


def _scrub_expr(text: Column) -> Column:
    scrubbed = F.regexp_replace(text, EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(scrubbed, PHONE_RE, "<PHONE>")


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / phone numbers, returning per-doc redaction counts
    and the scrubbed text. Pure ``regexp_replace`` map pass (one scan,
    zero shuffle at any scale); patterns live in the RE2 ∩ Java subset
    so the oracle replicates them verbatim.
    """
    text = F.col(text_col)
    return df.select(
        F.col(id_col).alias("id"),
        F.size(F.regexp_extract_all(text, F.lit(EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(text, F.lit(PHONE_RE), 0)).cast("long").alias("n_phones"),
        _scrub_expr(text).alias("scrubbed"),
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    frac: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic stratified sample: within each stratum, rank rows
    by ``(md5(id), id)`` — an engine-stable pseudo-random systematic
    order — and keep the first ``ceil(frac * stratum_size)``.

    Exact per-stratum proportions (unlike Bernoulli ``sampleBy``),
    reproducible across engines and runs, and scalable: the window is
    PARTITIONED by the stratum so each group ranks independently in its
    own tasks (contrast a global-order window's single task). Skewed
    strata degrade balance, not correctness.
    """
    key = F.md5(F.col(id_col).cast("string"))
    w = W.partitionBy(strata_col).orderBy(key, F.col(id_col))
    ranked = df.withColumn("_rk", F.row_number().over(w)).withColumn(
        "_n", F.count("*").over(W.partitionBy(strata_col))
    )
    return (
        ranked.filter(F.col("_rk") <= F.ceil(F.col("_n") * F.lit(frac)))
        .select(
            F.col(id_col).alias("id"),
            F.col(strata_col).alias("stratum"),
            F.col("_rk").cast("long").alias("rk"),
        )
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement (Efraimidis &
    Spirakis 2006, the A-ES one-pass scheme): each row draws a uniform
    ``u`` and the ``k`` rows with the largest ``u^(1/w)`` — equivalently
    the largest ``ln(u)/w`` — are the sample, giving every row inclusion
    probability proportional to its weight among survivors. The
    quality-weighted corpus-subsampling primitive (weight = quality
    score, token count, dedup-cluster mass, ...).

    Engine-exact determinism, same discipline as :func:`stratified_sample`:
    ``u = (hex13(md5(seed ':' id)) + 0.5) / 2^52`` — the numerator is an
    exact 53-bit double and the divisor a power of two, so ``u`` is
    bit-identical in any engine — and the sort key is int64-quantized
    (``floor(ln(u)/w * 1e6 + 0.5)``) BEFORE ranking with an id
    tiebreak, so the cut is a total order. Rows with non-positive or
    NULL weight are excluded (they'd have zero inclusion mass).

    Scale shape: one map pass + TakeOrderedAndProject (per-partition
    top-k, then a k-row merge on the driver) — no global sort, no
    window, no shuffle of the data itself.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string"))), 1, 13),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4503599627370496.0)  # 2^52
    score = F.floor(F.log(u) / F.col(weight_col) * F.lit(1_000_000.0) + F.lit(0.5)).cast("long")
    return (
        df.filter(F.col(weight_col) > 0)
        .select(F.col(id_col).alias("id"), F.col(weight_col).cast("double").alias("weight"), score.alias("score"))
        .orderBy(F.desc("score"), F.asc("id"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 32,
    overlap: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """RAG-prep chunking: split each document's word stream into
    fixed-size windows with overlap (stride = chunk - overlap),
    emitting ``(id, chunk_idx, chunk_text, n_tokens)``.

    Per-row ``sequence`` + ``transform`` + ``explode`` — the chunk
    windows are built inside the row before the single explode, so the
    only row multiplication is the output itself (no join, no shuffle;
    at 100 TB this is a map pass whose output is ~len/stride× the
    input rows). The final short window is kept iff it adds new words
    (standard RAG convention: last chunk may be shorter, never empty,
    never fully contained in the previous one).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    words = words_expr(F.col(text_col))
    n = F.size(words)
    # number of chunks: 1 + ceil(max(0, n - chunk) / stride), n > 0
    n_chunks = F.when(
        n > chunk_tokens,
        F.lit(1) + F.ceil((n - F.lit(chunk_tokens)).cast("double") / F.lit(stride)).cast("int"),
    ).otherwise(F.when(n > 0, F.lit(1)).otherwise(F.lit(0)))
    idx = F.sequence(F.lit(0), n_chunks - 1)
    chunks = F.transform(
        idx,
        lambda i: F.struct(
            i.alias("chunk_idx"),
            F.concat_ws(" ", F.slice(words, i * stride + 1, chunk_tokens)).alias("chunk_text"),
            F.least(n - i * stride, F.lit(chunk_tokens)).alias("n_tokens"),
        ),
    )
    out = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.when(n > 0, chunks).otherwise(F.array().cast(
            "array<struct<chunk_idx:int,chunk_text:string,n_tokens:int>>"
        ))).alias("c"),
    )
    return out.select(
        "id",
        F.col("c.chunk_idx").cast("long").alias("chunk_idx"),
        F.col("c.chunk_text").alias("chunk_text"),
        F.col("c.n_tokens").cast("long").alias("n_tokens"),
    )


def frequent_ngrams(
    df: DataFrame,
    k: int = 3,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus-level boilerplate mining: the ``top_n`` word k-grams by
    DOCUMENT frequency (each doc counts a distinct shingle once).

    The C4/CCNet pre-step: the highest-doc-frequency n-grams surface
    templated boilerplate ("all rights reserved", cookie banners) that
    near-dup pipelines then strip or down-weight. Reference analog: the
    character-frequency alphabet audit of the recognizer's training set
    (``/root/reference/keras_ocr/recognition.py:61-74`` alphabet
    handling), lifted from chars to corpus n-grams.

    Plan: per-row shingle explode (distinct within doc by construction)
    -> ONE count shuffle with map-side partial aggregation over at most
    |vocab|^k keys -> TakeOrderedAndProject. Ties at the cutoff break
    on the n-gram string, so the result is deterministic.
    """
    from .dedup import shingle_docs

    sh = shingle_docs(df, id_col, text_col, k).select(F.col("shingle").alias("ngram"))
    return (
        sh.groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(top_n)
    )


def strip_boilerplate_lines(
    df: DataFrame,
    min_doc_freq: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style boilerplate line removal: delete every LINE that occurs
    in >= ``min_doc_freq`` distinct documents, preserving the order of
    the surviving lines within each document.

    Plan shape (three bounded shuffles, no Python):
    1. per-row split + posexplode into (id, pos, line);
    2. line document-frequency: distinct (line, id) -> count per line
       (map-side partial agg; the heavy text column never rides the
       shuffle twice — the distinct and the count share one exchange
       chain keyed on the line);
    3. anti-join hot lines out, regroup by id, re-assemble with
       order restored via array_sort on (pos, line) structs.
    Every input document survives (left join): a doc whose every line
    was boilerplate comes back with empty text — droppable by a
    downstream length gate, never silently lost.
    """
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    hot = (
        lines.select("line", "id")
        .distinct()
        .groupBy("line")
        .agg(F.count(F.lit(1)).alias("line_df"))
        .filter(F.col("line_df") >= min_doc_freq)
        .select("line")
    )
    kept = lines.join(hot, "line", "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))), lambda s: s["line"]
            ),
            "\n",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("n_lines_kept"),
    )
    base = df.select(F.col(id_col).alias("id"))
    return base.join(rebuilt, "id", "left").select(
        "id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_lines_kept", F.lit(0)).cast("long").alias("n_lines_kept"),
    )


def quality_percentile_gate(
    df: DataFrame,
    frac: float = 0.6,
    lang_col: str = "lang",
    id_col: str = "id",
    quality_col: str = "quality",
    n_order_buckets: int = 64,
) -> DataFrame:
    """Adaptive per-language quality gate: keep each language's TOP
    ``frac`` of documents by quality score — how real curation sets
    thresholds (a fixed global cutoff over- or under-prunes languages
    whose score distributions differ; CCNet buckets by perplexity
    percentile for exactly this reason).

    Skew-safe exact rank, on the prefix scan
    (:func:`packing.prefix_sum`) over a column of ones: rows bucket by
    their quality value (a monotone coarsening of the quality-DESC
    sort), rank locally per (lang, bucket) window task, and add tiny
    broadcast per-bucket prefix offsets — the dominant language never
    sorts in one task, yet ranks equal the textbook
    ``row_number() OVER (PARTITION BY lang ORDER BY quality DESC, id)``
    bit for bit (the DuckDB oracle computes that naive form), and
    ``n_lang`` is the scan's group total. Ties break on id, so the kept
    set is deterministic across engines.

    Output: (id, lang, quality, lang_rank, n_lang), kept rows only.
    Rows with NULL quality are excluded up front (a NULL score is
    unrankable; engines disagree on NULL placement under DESC order, so
    dropping explicitly keeps the kept set engine-portable).
    """
    n_b = max(1, int(n_order_buckets))
    df = df.filter(F.col(quality_col).isNotNull())
    q = F.col(quality_col).cast("double")
    # bucket ascending in rank order (= descending quality); q is in
    # [0, 1], clamped so the q == 1 edge and stray scores stay in range
    rb = F.lit(n_b - 1) - F.least(F.greatest(F.floor(q * n_b), F.lit(0)), F.lit(n_b - 1))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        q.alias("quality"),
    )
    order = [F.desc("quality"), F.asc("id")]
    out = prefix_sum(
        staged, F.lit(1), order, rb, n_b, "lang_rank", groups=["lang"], total_col="n_lang"
    )
    return out.filter(
        F.col("lang_rank") <= F.ceil(F.lit(float(frac)) * F.col("n_lang"))
    ).select("id", "lang", "quality", "lang_rank", "n_lang")


def token_budget_mix(
    df: DataFrame,
    budgets: dict,
    default_budget: int,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: "Column | None" = None,
    n_order_buckets: int = 64,
) -> DataFrame:
    """Per-language token budgeting — the data-MIXING primitive of a
    pretraining pipeline: each language keeps documents, in a
    deterministic md5 systematic order, until its token budget is
    exhausted (every kept row's inclusive running total fits the
    budget; the first crossing row is excluded).

    Scale shape (skew-hardened): the naive form — one window partition
    per language — serializes the dominant language's whole stratum
    into ONE task (English ≈ half a real corpus). Instead the running
    sum is :func:`packing.prefix_sum` grouped by language and bucketed
    by the md5 order key's leading 16 bits (monotone in the key,
    uniform because md5 is), so the hot language parallelizes
    ``n_order_buckets`` ways. Identical values to the single-window
    form (pinned by the DuckDB oracle, which stays the partition-less
    SUM OVER). Budget lookup is a literal CASE projection. The md5 order
    makes the kept set stable across runs, engines and partitionings —
    df.sample() can do none of that.

    Output: (id, lang, n_tokens, cum_tokens), kept rows only.
    """
    toks = tokens_col if tokens_col is not None else F.size(F.split(F.col(text_col), " ", -1))
    budget = F.lit(int(default_budget))
    for lang, b in sorted(budgets.items()):
        budget = F.when(F.col("lang") == lang, F.lit(int(b))).otherwise(budget)
    n_b = max(1, int(n_order_buckets))
    staged = df.select(
        F.col(id_col).alias("id"),
        F.col(lang_col).alias("lang"),
        toks.cast("long").alias("n_tokens"),
    ).withColumn("_ok", F.md5(F.col("id").cast("string")))
    out = prefix_sum(
        staged,
        F.col("n_tokens"),
        [F.col("_ok"), F.col("id")],
        md5_prefix_bucket(F.col("_ok"), n_b),
        n_b,
        "cum_tokens",
        groups=["lang"],
    )
    return out.filter(F.col("cum_tokens") <= budget).select("id", "lang", "n_tokens", "cum_tokens")


def dsir_scores(
    df: DataFrame,
    target_pred: Column,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR importance scores (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every document by
    how much more likely its hashed n-gram bag is under the TARGET
    distribution (rows where ``target_pred`` holds, e.g. a trusted
    high-quality slice) than under the RAW corpus distribution —
    ``log w(x) = Σ_features [ln p_t(bucket) - ln p_r(bucket)]`` with
    unigram+bigram features hashed into ``n_buckets`` buckets and add-1
    smoothing over the fixed bucket space. Selecting the top weights
    (or Gumbel-resampling on them) is the paper's domain-matching
    pretraining-data selection.

    Cross-engine exactness: both distributions are integer bucket
    counts; each bucket's log-ratio term is computed from those exact
    integers and quantized to int64 micro-units (``floor(x*1e6+0.5)``),
    so the per-document score is an INTEGER sum — associative, hence
    identical under any aggregation order in Spark and DuckDB — divided
    by 1e6 only at the end.

    Scale shape: one explode feeding (a) the bucket-distribution groupBy
    (key space = ``n_buckets``, map-side combined) and (b) the per-doc
    score groupBy; the ≤``n_buckets``-row term table and the 1-row
    totals are broadcast (the whitelisted 1-row BNLJ + a broadcast hash
    join). No all-pairs, no Python, no global sort — word-count cost at
    100 TB, like :func:`~.textstats.unigram_kl_drift`.
    """
    w = words_expr(F.lower(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("id"),
        F.when(target_pred, F.lit(1)).otherwise(F.lit(0)).alias("ia"),
        w.alias("_w"),
    )
    # sequence(1, 0) DESCENDS in Spark (see shingles_expr) — guard short docs
    bigrams = F.when(
        F.size("_w") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("_w") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at(F.col("_w"), i), F.element_at(F.col("_w"), i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ex = base.select(
        "id",
        "ia",
        F.explode(F.concat(F.col("_w"), bigrams)).alias("f"),
    ).select(
        "id",
        "ia",
        F.conv(F.substring(F.md5("f"), 1, 2), 16, 10).cast("long").alias("b"),
    )
    buckets = ex.groupBy("b").agg(
        F.sum("ia").cast("long").alias("c_t"),
        F.count(F.lit(1)).cast("long").alias("c_all"),
    )
    tot = buckets.agg(
        F.sum("c_t").cast("long").alias("n_t"),
        F.sum("c_all").cast("long").alias("n_all"),
    )
    nb = float(n_buckets)
    qterm = F.floor(
        (
            F.log((F.col("c_t") + F.lit(1.0)) / (F.col("n_t") + F.lit(nb)))
            - F.log((F.col("c_all") + F.lit(1.0)) / (F.col("n_all") + F.lit(nb)))
        )
        * F.lit(1_000_000.0)
        + F.lit(0.5)
    ).cast("long")
    bterm = buckets.crossJoin(F.broadcast(tot)).select("b", qterm.alias("qterm"))
    return (
        ex.join(F.broadcast(bterm), "b")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            (F.sum("qterm") / F.lit(1_000_000.0)).cast("double").alias("logw"),
        )
    )
