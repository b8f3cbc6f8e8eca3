#!/usr/bin/env python
"""spark-submit entry point for the CURATION job — the corpus-side
counterpart to extract_job.py:

    bash scripts/package.sh
    spark-submit --master local[32] \\
        --py-files dist/keras_ocr_spark.zip \\
        scripts/curate_job.py \\
        --input /path/documents.parquet --output /tmp/curated \\
        [--threshold 0.5] [--min-quality 0.5]

Pipeline: the ``curate_corpus`` plan, ``plans.pipeline.curate`` —
MinHash-LSH near-dup candidates at Jaccard ``--threshold`` ->
exact-Jaccard verify -> large/small-star transitive closure -> one
keeper per duplicate cluster -> quality gate (``--min-quality``) ->
exact substring-span gate -> leakage-safe split (train side) ->
per-language token-budget mix. The job's one step of its own joins
each kept document's ``text`` back on ``id``; the written rows are
``id, lang, n_bpe_tokens, quality, dup_frac, cum_tokens, text``.

The write goes through ``plans.observe.commit``, the package's one
manifest-commit protocol: the write job itself observes the summary
metrics, and ``_summary.json`` is published atomically after the data,
so a killed job never leaves a truncated summary. Its fields: ``n_in``
(input rows), ``n_kept`` (rows written), ``kept_tokens`` (their
``n_bpe_tokens`` total), ``content_hash`` (an order-independent hash of
every written column), the ``threshold``/``min_quality`` echo and
``engine_conf``, the session's values of the settings
``plans.session.build_session`` gives the engine.

Unlike extraction (embarrassingly parallel per conversation, hence
per-bucket checkpoint manifests in plans/checkpoint.py), dedup is a
GLOBAL computation — the pair graph spans the whole corpus, so
partial-bucket resume would change semantics. The job is instead
idempotent end to end: same input + config -> byte-identical output
(deterministic keepers, overwrite write mode); re-run on failure.
That includes the loss of an executor: the plan's lineage cuts and the
closure's rounds are ``localCheckpoint``s, whose blocks cannot be
recomputed, so the job fails rather than resuming, and the rerun is the
recovery.
Incremental daily ingest avoids the global recompute a different way:
``operators.dedup.incremental_dedup_pairs`` probes only the new batch
against the persisted band index.
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--min-quality", type=float, default=0.5)
    args = ap.parse_args()

    # Import AFTER spark-submit has added --py-files to sys.path.
    from pyspark.sql import functions as F

    from keras_ocr_spark.plans.observe import commit
    from keras_ocr_spark.plans.pipeline import curate
    from keras_ocr_spark.plans.session import build_session, engine_conf

    spark = build_session(app_name="keras_ocr_spark_curate")

    docs = spark.read.parquet(args.input)
    texts = docs.select(F.col("doc_id").cast("long").alias("id"), "text")
    curated = curate(docs, args.threshold, args.min_quality).join(texts, "id")
    summary = {
        "n_in": docs.count(),
        "threshold": args.threshold,
        "min_quality": args.min_quality,
        "engine_conf": {k: spark.conf.get(k) for k in engine_conf()},
    }

    def manifests(audit: dict) -> dict:
        summary.update((k, int(v)) for k, v in audit.items())
        return {f"{args.output}/_summary.json": summary}

    commit(
        curated,
        args.output,
        {
            "n_kept": "count(*)",
            "kept_tokens": "coalesce(sum(n_bpe_tokens), 0)",
            "content_hash": f"coalesce(bit_xor(xxhash64({', '.join(curated.columns)})), 0)",
        },
        manifests,
    )
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
