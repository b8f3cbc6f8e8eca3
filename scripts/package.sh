#!/usr/bin/env bash
# Build the --py-files zip for spark-submit deployment.
set -euo pipefail
cd "$(dirname "$0")/.."
mkdir -p dist
rm -f dist/keras_ocr_spark.zip
# Zip the package only (no tests, no bytecode); the checkout is left as is.
zip -qr dist/keras_ocr_spark.zip keras_ocr_spark -x '*/__pycache__/*' '*.pyc'
echo "built dist/keras_ocr_spark.zip ($(du -h dist/keras_ocr_spark.zip | cut -f1))"
