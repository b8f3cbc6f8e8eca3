#!/usr/bin/env python
"""spark-submit entry point for the CURATION job — the corpus-side
counterpart to extract_job.py:

    bash scripts/package.sh
    spark-submit --master local[32] \\
        --py-files dist/keras_ocr_spark.zip \\
        scripts/curate_job.py \\
        --input /path/documents.parquet --output /tmp/curated \\
        [--threshold 0.5] [--min-quality 0.5]

Pipeline: MinHash-LSH near-dup candidates -> exact-Jaccard verify ->
large/small-star transitive closure -> one keeper per duplicate
cluster -> quality gate -> curated parquet + token-budget columns,
plus a _summary.json manifest (row counts per stage, kept-token
total, config echo, order-independent content hash) for lineage,
published atomically after the data (``plans.observe.publish_json``),
so a killed job never leaves a truncated summary.

Unlike extraction (embarrassingly parallel per conversation, hence
per-bucket checkpoint manifests in plans/checkpoint.py), dedup is a
GLOBAL computation — the pair graph spans the whole corpus, so
partial-bucket resume would change semantics. The job is instead
idempotent end to end: same input + config -> byte-identical output
(deterministic keepers, overwrite write mode); re-run on failure.
That includes the loss of an executor: the closure's rounds are
``localCheckpoint``s (``operators.clusters.connected_components``),
whose blocks cannot be recomputed, so the job fails rather than
resuming, and the rerun is the recovery.
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
    ap.add_argument("--max-bucket-size", type=int, default=10_000)
    args = ap.parse_args()

    # Import AFTER spark-submit has added --py-files to sys.path.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from keras_ocr_spark.operators import dedup as D
    from keras_ocr_spark.operators import textstats as TS
    from keras_ocr_spark.operators.clusters import resolve_duplicates

    spark = SparkSession.builder.appName("keras_ocr_spark_curate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = spark.read.parquet(args.input)
    n_in = docs.count()
    pairs = D.minhash_dedup_pairs(
        docs, threshold=args.threshold, max_bucket_size=args.max_bucket_size
    ).persist()
    n_pairs = pairs.count()
    resolved = resolve_duplicates(docs, pairs, id_col="doc_id")
    keepers = resolved.filter("is_keeper").select("id")
    quality = TS.quality_scores(docs).select("id", "quality")
    tokens = TS.token_counts(docs).select("id", "n_bpe_tokens")
    curated = (
        docs.join(keepers, docs["doc_id"] == keepers["id"]).drop("id")
        .join(quality.withColumnRenamed("id", "doc_id"), "doc_id")
        .join(tokens.withColumnRenamed("id", "doc_id"), "doc_id")
        .filter(F.col("quality") >= args.min_quality)
    )
    # Summary stats ride the WRITE job via Observation (plans/observe.py)
    # — the old form re-read the freshly written output, paying a whole
    # second scan for three aggregates; at 100 TB that second scan IS
    # the cost of the job again.
    from keras_ocr_spark.plans.observe import publish_json, write_with_audit

    stats = write_with_audit(
        curated,
        args.output,
        {
            "n_kept": "count(*)",
            "kept_tokens": "coalesce(sum(n_bpe_tokens), 0)",
            "content_hash": "coalesce(bit_xor(xxhash64(doc_id, text)), 0)",
        },
    )
    summary = {
        "n_in": n_in,
        "near_dup_pairs": n_pairs,
        "n_kept": int(stats["n_kept"]),
        "kept_tokens": int(stats["kept_tokens"]),
        "content_hash": int(stats["content_hash"]),
        "threshold": args.threshold,
        "min_quality": args.min_quality,
    }
    publish_json(f"{args.output}/_summary.json", summary)
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
