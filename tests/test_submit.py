"""spark-submit --py-files deployment test (north-rule requirement).

Packages the library as a zip, then runs the real extraction job through
``spark-submit`` in a fresh JVM with ONLY the zip on the python path —
proving the UDFs unpickle and the package imports on executors the way a
real cluster would see it."""

import json
import shutil
import subprocess
from pathlib import Path

import pytest

from keras_ocr_spark.sources.transcripts import generate_pandas

REPO = Path(__file__).resolve().parent.parent


@pytest.mark.slow
def test_spark_submit_py_files(spark, tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    # Build the zip.
    subprocess.run(["bash", str(REPO / "scripts/package.sh")], check=True, capture_output=True)
    zip_path = REPO / "dist/keras_ocr_spark.zip"
    assert zip_path.exists()

    # Input parquet.
    inp = str(tmp_path / "in.parquet")
    pdf = generate_pandas(n_convs=5, make_skewed=False)
    spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(inp)
    out = str(tmp_path / "out")

    proc = subprocess.run(
        [
            spark_submit,
            "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.sql.shuffle.partitions=8",
            "--py-files", str(zip_path),
            str(REPO / "scripts/extract_job.py"),
            "--input", inp,
            "--output", out,
            "--buckets", "2",
            "--salt", "4",
        ],
        capture_output=True,
        text=True,
        timeout=420,
        cwd=str(tmp_path),  # NOT the repo root: forces import from the zip
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert sorted(summary["buckets_run"]) == [0, 1]
    assert summary["rows"] == len(pdf)


@pytest.mark.slow
def test_spark_submit_curate_job(spark, tmp_path):
    """The curation job through spark-submit with only the zip on the
    python path; idempotence: a re-run produces the identical summary
    (deterministic keepers + content hash)."""
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    subprocess.run(["bash", str(REPO / "scripts/package.sh")], check=True, capture_output=True)
    zip_path = REPO / "dist/keras_ocr_spark.zip"

    inp = "/root/testdata/sf0.001/documents.parquet"
    out = str(tmp_path / "curated")

    def run():
        proc = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--conf", "spark.sql.session.timeZone=UTC",
                "--py-files", str(zip_path),
                str(REPO / "scripts/curate_job.py"),
                "--input", inp,
                "--output", out,
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=str(tmp_path),
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])

    s1 = run()
    assert s1["n_in"] == 500
    # pairs count EDGES (a cyclic 3-cluster has 3 edges, drops 2 docs),
    # so the only sound bounds are 0 < kept <= n_in, and strictly
    # fewer than n_in whenever any near-dup pair exists.
    assert 0 < s1["n_kept"] <= 500
    if s1["near_dup_pairs"] > 0:
        assert s1["n_kept"] < 500
    assert s1["kept_tokens"] > 0
    s2 = run()  # idempotent re-run
    assert s2 == s1
