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

from keras_ocr_spark.plans.session import engine_conf
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
    # the job ran with build_session's engine settings
    assert summary["engine_conf"] == engine_conf()


@pytest.mark.slow
def test_spark_submit_curate_job(spark, tmp_path):
    """The curation job through spark-submit with only the zip on the
    python path writes the ``curate_corpus`` plan: its rows, text
    dropped, equal the query's (the DuckDB oracle's 113 rows and 6,860
    tokens at sf0.001), each with its input text. Idempotence: a re-run
    publishes the identical ``_summary.json`` (deterministic keepers +
    content hash)."""
    from keras_ocr_spark.driver_queries import q_curate_corpus

    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit not on PATH")

    subprocess.run(["bash", str(REPO / "scripts/package.sh")], check=True, capture_output=True)
    zip_path = REPO / "dist/keras_ocr_spark.zip"

    sf_dir = "/root/testdata/sf0.001"
    inp = f"{sf_dir}/documents.parquet"
    out = tmp_path / "curated"

    def run():
        proc = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--py-files", str(zip_path),
                str(REPO / "scripts/curate_job.py"),
                "--input", inp,
                "--output", str(out),
            ],
            capture_output=True,
            text=True,
            timeout=420,
            cwd=str(tmp_path),
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        printed = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
        published = (out / "_summary.json").read_text()
        assert json.loads(published) == printed
        return published

    s1 = run()
    written = spark.read.parquet(str(out))
    cols = ["id", "lang", "n_bpe_tokens", "quality", "dup_frac", "cum_tokens"]
    assert written.columns == [*cols, "text"]
    want = sorted(map(tuple, q_curate_corpus(spark, sf_dir).collect()))
    assert sorted(map(tuple, written.select(*cols).collect())) == want
    assert (len(want), sum(r[2] for r in want)) == (113, 6860)
    texts = {r.doc_id: r.text for r in spark.read.parquet(inp).collect()}
    assert all(texts[r.id] == r.text for r in written.select("id", "text").collect())
    summary = json.loads(s1)
    assert {k: summary[k] for k in ("n_in", "n_kept", "kept_tokens")} == {
        "n_in": 500, "n_kept": 113, "kept_tokens": 6860,
    }
    assert summary["engine_conf"] == engine_conf()
    assert run() == s1  # idempotent re-run
