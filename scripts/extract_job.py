#!/usr/bin/env python
"""spark-submit entry point for the extraction job.

Deployment contract (north rule): the package ships as a zip via
``spark-submit --py-files`` so every executor can import
``keras_ocr_spark`` (the stage-1 Arrow UDF unpickles on executors).

    bash scripts/package.sh                      # builds dist/keras_ocr_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/keras_ocr_spark.zip \\
        scripts/extract_job.py \\
        --input /path/transcripts.parquet --output /tmp/out \\
        --buckets 8 --salt 8

Resumable: re-running with the same input/config skips buckets whose
checkpoint manifests are complete (see plans/checkpoint.py). The printed
JSON summary holds the buckets run and skipped, the rows written and
``engine_conf``, the session's values of the settings
``plans.session.build_session`` gives the engine.
"""

from __future__ import annotations

import argparse
import json


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--salt", type=int, default=8)
    ap.add_argument("--size-threshold", type=int, default=10)
    args = ap.parse_args()

    # Import AFTER spark-submit has added --py-files to sys.path.
    from keras_ocr_spark.config import ExtractionConfig
    from keras_ocr_spark.plans.checkpoint import run_with_checkpoints
    from keras_ocr_spark.plans.session import build_session, engine_conf

    spark = build_session(app_name="keras_ocr_spark_extract")
    cfg = ExtractionConfig(size_threshold=args.size_threshold)
    summary = run_with_checkpoints(
        spark,
        input_path=args.input,
        out_dir=args.output,
        n_buckets=args.buckets,
        cfg=cfg,
        n_salt=args.salt,
    )
    summary["engine_conf"] = {k: spark.conf.get(k) for k in engine_conf()}
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
