"""End-to-end extraction plan — the graft's ``Pipeline.recognize``.

Orchestrates the reference's stages (``/root/reference/keras_ocr/
pipeline.py:28-75``: normalize -> batch -> detect -> crop -> recognize ->
rescale -> re-associate) as one lazy, map-only DataFrame plan:

    read -> [salted repartition on conv_id]
         -> stage-1 Arrow UDF: core.oracle.extract_turn per turn
            (propose spans, decode each once, drop blanks, join in
            document order) -> struct<clean_text, spans>
         -> per-row projection of the struct's fields

Physical shape (verified in tests/test_plan_shape.py):
- scan -> one ArrowEvalPython node (an Arrow iterator UDF) ->
  projection. ZERO exchanges — each turn is extracted whole in one
  kernel call, so re-association needs no shuffle. Scales exactly like
  the scan, in batch and in every streaming micro-batch alike
  (streaming/extraction.py runs this same plan);
- the optional salted repartition (skewed input layouts) adds exactly
  one exchange;
- the scan reads only the columns the plan needs (conv_id, turn_idx,
  text) — column pruning reaches the parquet reader.

``curate`` is the one curation plan, on the same engine: the
``curate_corpus`` query and ``scripts/curate_job.py`` both build it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..config import DEFAULT_CONFIG, ExtractionConfig
from ..operators.detect import detect
from ..operators.fused import decode_reassemble_fused


def extract(df: DataFrame, cfg: ExtractionConfig = DEFAULT_CONFIG, n_salt: int = 0) -> DataFrame:
    """Transcripts -> (conv_id, turn_idx, clean_text, spans). Map-only.

    Per-turn output equals ``core.oracle.extract_turn`` exactly (parity
    suite: tests/test_parity.py). ``n_salt``>0 adds the explicit salted
    repartition on (conv_id, salt) before stage 1 (north-rule skew
    handling for skewed input layouts; AQE covers the rest at runtime).
    """
    slim = df.select("conv_id", "turn_idx", "text")
    return decode_reassemble_fused(detect(slim, cfg=cfg, n_salt=n_salt))


def curate(docs: DataFrame, threshold: float = 0.5, min_quality: float = 0.5) -> DataFrame:
    """Documents -> the curated training corpus, in one plan:
    near-dup clusters resolved to one keeper per cluster (minhash LSH
    candidates at Jaccard ``threshold`` -> exact-Jaccard verify ->
    large-star/small-star closure), keepers gated by quality score
    (``>= min_quality``), then by EXACT substring-span duplication over
    the survivors (Lee et al. 2022 — dup_frac <= 0.5), a leakage-safe
    train/test split keyed on the cluster label (the test side held
    out), and finally the per-language token-budget mix (en 3000
    BPE-ish tokens, others 1000) in deterministic md5 order. Exact dups
    are subsumed (Jaccard 1 -> same cluster).

    ``docs`` needs ``doc_id``, ``text`` and ``lang``. Output: one row per
    kept train-side document — ``id`` (its ``doc_id``), ``lang``,
    ``n_bpe_tokens``, ``quality``, ``dup_frac`` and the inclusive running
    ``cum_tokens``; no text.

    Every lineage cut here, and each closure round, is a
    ``localCheckpoint``: after an executor loss the job fails instead of
    recomputing, and it is rerun — ``scripts/curate_job.py`` is
    idempotent. A reliable ``checkpoint()`` would need a checkpoint
    directory, which ``build_session`` does not set, and one write per
    cut."""
    from pyspark.sql import functions as F

    from ..functions.numeric import pround
    from ..operators import dedup as D
    from ..operators import textstats as TS
    from ..operators.clusters import leakage_safe_split
    from ..operators.curation import token_budget_mix

    # Lineage cuts. Under AQE a "lazy" localCheckpoint(eager=False) runs
    # the shuffle and broadcast stages upstream of it as soon as it is
    # called; only its last stage waits for a consumer. Each cut below
    # is kept because removing it cost more than it saved, measured by
    # removing one cut at a time on ``curate_corpus`` (1,000 docs,
    # 4 vCPUs, CPU of passes 5-8 of one session). With every cut a pass
    # runs 18-19 jobs, 12-13 of them while the frame is built (parquet
    # schema inference included), at about 6.4 CPU-s:
    # - docs: without it each job re-runs the scan and repartition; the
    #   pass runs one job more at equal CPU (within 0.3 CPU-s over four
    #   passes). Calling it runs 1 job (the repartition).
    docs = docs.localCheckpoint(eager=False)
    pairs = D.minhash_dedup_pairs(docs, threshold=threshold)
    # The split rows keep the doc columns, so the keepers need no join
    # back for their text and language. Building the split runs the
    # closure's checkpoint jobs (7-8 here, the pair pipeline included).
    split = leakage_safe_split(docs, pairs, id_col="doc_id")
    # - surv: the substring gate reads the survivors twice. Without the
    #   cut each reader re-runs the keeper window and the quality
    #   expressions: one job more per pass and 0.6 CPU-s more per pass.
    #   Calling it runs 1 job.
    surv = (
        split.filter(F.col("id") == F.col("keeper_id"))
        .select("id", "text", "lang", "split", *TS.curation_feature_columns(F.col("text")))
        .filter(F.col("quality") >= min_quality)
    ).localCheckpoint(eager=False)
    # The substring stats carry the survivors' other columns through
    # their id exchange, so no join brings them back.
    # - gated: the mix reads it and so does the join that brings back
    #   quality and dup_frac. Without the cut both re-run the substring
    #   stats: the same number of jobs, and 3 CPU-s more per pass.
    #   Calling it runs 2 jobs.
    gated = (
        D.substring_dup_stats(surv, k=5, id_col="id")
        .filter((F.col("dup_frac") <= 0.5) & (F.col("split") == "train"))
        .select("id", "lang", "n_bpe_tokens", "quality", "dup_frac")
    ).localCheckpoint(eager=False)
    mixed = token_budget_mix(
        gated,
        {"en": 3000},
        default_budget=1000,
        id_col="id",
        tokens_col=F.col("n_bpe_tokens"),
    )
    out = mixed.join(gated.select("id", "quality", "dup_frac"), "id")
    return out.select(
        F.col("id").cast("long").alias("id"),
        "lang",
        F.col("n_tokens").cast("long").alias("n_bpe_tokens"),
        pround(F.col("quality"), 6).alias("quality"),
        F.col("dup_frac").cast("double").alias("dup_frac"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )
