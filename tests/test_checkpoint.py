"""Checkpoint/resume tests — the kill/resume scenario from BASELINE.md:
re-run skips completed partitions via manifest anti-join (graft analog of
the reference's resume-from-weights loop,
``scripts/train_recognizer_synthtext90_multigpu.py:126-147``), plus the
single-scan plan shape and lineage-invalidation rules."""

import json
import re
from pathlib import Path

import pytest

from keras_ocr_spark.config import ExtractionConfig
from keras_ocr_spark.plans.checkpoint import (
    completed_buckets,
    pending_plan,
    read_committed,
    read_manifests,
    run_with_checkpoints,
)
from keras_ocr_spark.plans.pipeline import extract
from keras_ocr_spark.sources.transcripts import TRANSCRIPT_SCHEMA, generate_pandas


@pytest.fixture(scope="module")
def input_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("ckpt") / "transcripts.parquet")
    pdf = generate_pandas(n_convs=20, make_skewed=False)
    spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("overwrite").parquet(p)
    return p


def test_kill_and_resume_exact(spark, input_path, tmp_path):
    out = str(tmp_path / "out")
    # First run crashes after 3 buckets (injected).
    with pytest.raises(RuntimeError, match="injected failure"):
        run_with_checkpoints(spark, input_path, out, n_buckets=6, fail_after_bucket=3)
    manifests = list(read_manifests(out))
    assert len(manifests) == 3
    done_before = {m["bucket"] for m in manifests}

    # Resume: completes ONLY the remaining buckets.
    summary = run_with_checkpoints(spark, input_path, out, n_buckets=6)
    assert set(summary["buckets_skipped"]) == done_before
    assert set(summary["buckets_run"]) == set(range(6)) - done_before

    # Full output = every input turn exactly once.
    result = spark.read.parquet(out)
    n_input = spark.read.parquet(input_path).count()
    assert result.count() == n_input
    assert result.select("conv_id", "turn_idx").distinct().count() == n_input

    # Third run: everything skipped, nothing recomputed.
    summary3 = run_with_checkpoints(spark, input_path, out, n_buckets=6)
    assert summary3["buckets_run"] == [] and len(summary3["buckets_skipped"]) == 6

    # A bucket count under 1 is rejected before the output is touched:
    # the committed buckets and their manifests read back unchanged.
    def committed():
        rows = read_committed(spark, out).select("conv_id", "turn_idx", "clean_text").collect()
        return sorted(map(tuple, rows)), sorted(read_manifests(out), key=lambda m: m["bucket"])

    before = committed()
    for n_buckets in (0, -1):
        with pytest.raises(ValueError, match="n_buckets"):
            run_with_checkpoints(spark, input_path, out, n_buckets=n_buckets)
    assert committed() == before


def test_single_scan_plan(spark, input_path):
    """The run's plan must scan the input exactly ONCE however many
    buckets are pending — the whole point of the single-pass rewrite
    (the old per-bucket loop cost n_buckets full scans)."""
    df = pending_plan(spark, input_path, buckets=[0, 2, 5], n_buckets=8)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan parquet|Scan parquet", plan)) == 1, plan


def test_config_change_invalidates_manifests(spark, input_path, tmp_path):
    out = str(tmp_path / "out2")
    run_with_checkpoints(spark, input_path, out, n_buckets=2)
    # Different thresholds -> different fingerprint -> full recompute.
    summary = run_with_checkpoints(
        spark, input_path, out, n_buckets=2, cfg=ExtractionConfig(size_threshold=5)
    )
    assert summary["buckets_run"] == [0, 1]


def test_n_buckets_change_invalidates_and_cleans(spark, input_path, tmp_path):
    """Re-running with different n_buckets must NOT trust manifests from
    the old bucketing predicate, and stale bucket=K dirs beyond the new
    range must be removed (no duplicated/missing rows)."""
    out = str(tmp_path / "out4")
    run_with_checkpoints(spark, input_path, out, n_buckets=6)
    assert len(list(Path(out).glob("bucket=*"))) > 2

    summary = run_with_checkpoints(spark, input_path, out, n_buckets=2)
    assert summary["buckets_skipped"] == []  # old manifests don't satisfy resume
    assert set(summary["buckets_run"]) == {0, 1}
    # No stale dirs beyond the new range...
    ks = {int(p.name.split("=")[1]) for p in Path(out).glob("bucket=*")}
    assert ks <= {0, 1}
    # ...and the output is still exactly the input, once.
    result = spark.read.parquet(out)
    n_input = spark.read.parquet(input_path).count()
    assert result.count() == n_input
    assert result.select("conv_id", "turn_idx").distinct().count() == n_input


def test_n_buckets_alternation_stays_exact(spark, input_path, tmp_path):
    """Regression (found by driving the job): 6 -> 3 -> 6 alternation.
    The middle run deletes the 6-layout bucket dirs as stale while their
    manifests survive; the final run must NOT trust dir-less manifests
    (that silently dropped those buckets' rows)."""
    out = str(tmp_path / "alt")
    run_with_checkpoints(spark, input_path, out, n_buckets=6)
    run_with_checkpoints(spark, input_path, out, n_buckets=3)
    run_with_checkpoints(spark, input_path, out, n_buckets=6)
    result = spark.read.parquet(out)
    n_input = spark.read.parquet(input_path).count()
    assert result.count() == n_input
    assert result.select("conv_id", "turn_idx").distinct().count() == n_input


def test_max_buckets_per_run_bounds_commit(spark, input_path, tmp_path):
    out = str(tmp_path / "out5")
    s1 = run_with_checkpoints(spark, input_path, out, n_buckets=4, max_buckets_per_run=2)
    assert len(s1["buckets_run"]) == 2
    s2 = run_with_checkpoints(spark, input_path, out, n_buckets=4, max_buckets_per_run=2)
    assert len(s2["buckets_run"]) == 2 and len(s2["buckets_skipped"]) == 2
    assert spark.read.parquet(out).count() == spark.read.parquet(input_path).count()


def test_corrupt_manifest_triggers_redo(spark, input_path, tmp_path):
    out = str(tmp_path / "out3")
    run_with_checkpoints(spark, input_path, out, n_buckets=2)
    mpath = Path(out) / "_manifests" / "bucket-0.json"
    fingerprint = json.loads(mpath.read_text())["fingerprint"]
    mpath.write_text("{ truncated")
    assert completed_buckets(out, fingerprint) == [1]


def test_read_committed_skips_corrupt_manifest(spark, input_path, tmp_path):
    """A damaged manifest makes its bucket uncommitted for readers too:
    read_committed returns the other committed buckets instead of
    raising, and read_manifests lists only the readable manifests."""
    from keras_ocr_spark.plans.checkpoint import read_committed

    out = str(tmp_path / "out6")
    run_with_checkpoints(spark, input_path, out, n_buckets=3)
    rows = {m["bucket"]: m["rows"] for m in read_manifests(out)}
    (Path(out) / "_manifests" / "bucket-0.json").write_text("{ truncated")

    assert sorted(m["bucket"] for m in read_manifests(out)) == [1, 2]
    got = read_committed(spark, out)
    assert sorted(r.bucket for r in got.select("bucket").distinct().collect()) == [1, 2]
    assert got.count() == rows[1] + rows[2]


def test_manifest_content_hash_stable(spark, input_path, tmp_path):
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    run_with_checkpoints(spark, input_path, out_a, n_buckets=2)
    run_with_checkpoints(spark, input_path, out_b, n_buckets=2, n_salt=4)
    ha = {m["bucket"]: m["content_hash64"] for m in read_manifests(out_a)}
    hb = {m["bucket"]: m["content_hash64"] for m in read_manifests(out_b)}
    assert ha == hb  # salting must not change committed content (order-independent hash)


def test_empty_input_commits_zero_row_manifests(spark, tmp_path):
    """An empty input must checkpoint cleanly: the partitioned write
    emits no data files, so the read-back is skipped and rows=0
    manifests commit for every bucket in the run (ADVICE r2)."""
    empty_path = str(tmp_path / "empty.parquet")
    spark.createDataFrame(
        [], schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.mode("overwrite").parquet(empty_path)
    out = str(tmp_path / "out_empty")
    summary = run_with_checkpoints(spark, empty_path, out, n_buckets=4)
    assert summary["rows"] == 0 and summary["buckets_run"] == [0, 1, 2, 3]
    manifests = list(read_manifests(out))
    assert len(manifests) == 4
    assert all(m["rows"] == 0 and m["status"] == "complete" for m in manifests)
    # Resume over the zero-row manifests: everything is skipped.
    summary2 = run_with_checkpoints(spark, empty_path, out, n_buckets=4)
    assert summary2["buckets_run"] == [] and len(summary2["buckets_skipped"]) == 4


def test_read_committed_excludes_uncommitted_bucket(spark, tmp_path):
    """A crash between data write and manifest commit leaves a bucket
    dir with no manifest; read_committed must not expose it, and the
    committed-bucket filter must reach the scan as partition pruning."""
    import json
    from pathlib import Path

    from keras_ocr_spark.plans.checkpoint import MANIFEST_DIR, read_committed, run_with_checkpoints
    from keras_ocr_spark.sources.transcripts import generate_pandas

    inp = str(tmp_path / "in.parquet")
    pdf = generate_pandas(n_convs=12, make_skewed=False)
    spark.createDataFrame(
        pdf, schema="conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    ).write.parquet(inp)
    out = str(tmp_path / "out")
    run_with_checkpoints(spark, input_path=inp, out_dir=out, n_buckets=3)

    all_rows = read_committed(spark, out).count()
    assert all_rows == len(pdf)

    # Simulate the crash window: delete ONE bucket's manifest — its
    # data files remain but are now unattested.
    manifests = sorted(Path(out, MANIFEST_DIR).glob("bucket-*.json"))
    dropped = json.loads(manifests[0].read_text())
    manifests[0].unlink()
    got = read_committed(spark, out)
    assert got.count() == all_rows - dropped["rows"]
    assert got.filter(f"bucket = {dropped['bucket']}").count() == 0

    # empty dir -> None (no schema to offer)
    empty = str(tmp_path / "empty_out")
    Path(empty, MANIFEST_DIR).mkdir(parents=True)
    assert read_committed(spark, empty) is None


def test_read_committed_rows0_and_deleted_dir_edges(spark, tmp_path):
    """r3 ADVICE edges: (a) manifests attesting ONLY rows=0 buckets
    (empty input) have no parquet files on disk — read_committed must
    return None, not raise schema-inference AnalysisException; (b) a
    rows>0 manifest whose bucket directory was deleted by a re-layout
    must be excluded, same rule as completed_buckets."""
    import shutil
    from pathlib import Path

    from keras_ocr_spark.plans.checkpoint import read_committed, read_manifests, run_with_checkpoints
    from keras_ocr_spark.sources.transcripts import generate_pandas

    # (a) empty input: 4 committed rows=0 manifests, zero data files
    schema = "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    empty_in = str(tmp_path / "empty_in.parquet")
    spark.createDataFrame([], schema=schema).write.parquet(empty_in)
    out0 = str(tmp_path / "out0")
    run_with_checkpoints(spark, input_path=empty_in, out_dir=out0, n_buckets=4)
    assert all(m["rows"] == 0 for m in read_manifests(out0))
    assert read_committed(spark, out0) is None  # was: AnalysisException

    # (b) real data, then delete one rows>0 bucket dir out from under
    # its surviving manifest
    inp = str(tmp_path / "in.parquet")
    pdf = generate_pandas(n_convs=12, make_skewed=False)
    spark.createDataFrame(pdf, schema=schema).write.parquet(inp)
    out = str(tmp_path / "out")
    run_with_checkpoints(spark, input_path=inp, out_dir=out, n_buckets=3)
    victim = next(m for m in read_manifests(out) if m["rows"] > 0)
    shutil.rmtree(Path(out) / f"bucket={victim['bucket']}")
    got = read_committed(spark, out)
    assert got.filter(f"bucket = {victim['bucket']}").count() == 0
    assert got.count() == len(pdf) - victim["rows"]


def _turns(rows):
    return {(r.conv_id, r.turn_idx): (r.clean_text, [(s.start, s.end) for s in r.spans]) for r in rows}


def test_input_rewritten_in_place_reruns_every_bucket(spark, tmp_path):
    """The fingerprint covers the input's file listing, not just its
    path: after an in-place rewrite a resume must redo every bucket, and
    the committed output must be the new input's extraction."""
    inp = str(tmp_path / "in.parquet")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        generate_pandas(n_convs=40, seed=1, make_skewed=False), schema=TRANSCRIPT_SCHEMA
    ).write.parquet(inp)
    run_with_checkpoints(spark, inp, out, n_buckets=8, max_buckets_per_run=4)

    spark.createDataFrame(
        generate_pandas(n_convs=40, seed=2, make_skewed=False), schema=TRANSCRIPT_SCHEMA
    ).write.mode("overwrite").parquet(inp)
    summary = run_with_checkpoints(spark, inp, out, n_buckets=8)
    assert summary["buckets_skipped"] == [] and summary["buckets_run"] == list(range(8))

    got = _turns(read_committed(spark, out).collect())
    assert got == _turns(extract(spark.read.parquet(inp)).collect())


def _jobs_of(spark, group, fn):
    """Runs ``fn`` under job group ``group``; returns its jobs' stage names."""
    sc = spark.sparkContext
    try:
        sc.setJobGroup(group, group)
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return [
        [tracker.getStageInfo(s).name for s in tracker.getJobInfo(j).stageIds]
        for j in tracker.getJobIdsForGroup(group)
    ]


def test_resume_run_is_schema_inference_plus_one_write_job(spark, input_path, tmp_path):
    """The manifest metrics ride the write job: a resume run reads the
    input schema and writes, with no read-back of what it wrote."""
    out = str(tmp_path / "jobs")
    run_with_checkpoints(spark, input_path, out, n_buckets=8, max_buckets_per_run=4)
    jobs = _jobs_of(
        spark, "checkpoint.resume", lambda: run_with_checkpoints(spark, input_path, out, n_buckets=8)
    )
    assert len(jobs) <= 2, jobs
    assert not any(name.startswith("collect") for stages in jobs for name in stages), jobs


def test_run_leaves_session_overwrite_mode_alone(spark, input_path, tmp_path):
    """Dynamic partition overwrite is a writer option, so a run neither
    sets nor restores the session's partitionOverwriteMode."""
    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.unset(key)
    run_with_checkpoints(spark, input_path, str(tmp_path / "conf"), n_buckets=3)
    assert spark.conf.get(key, None) is None


def test_manifest_metrics_equal_readback_of_committed_files(spark, input_path, tmp_path):
    """The manifests' observed rows, spans and content hash equal a
    grouped read-back of the files the run committed."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "metrics")
    run_with_checkpoints(spark, input_path, out, n_buckets=6, max_buckets_per_run=4)
    run_with_checkpoints(spark, input_path, out, n_buckets=6)
    row_sig = F.xxhash64(F.concat_ws("\x1e", "conv_id", "turn_idx", "clean_text"))
    back = {
        r.bucket: (r.rows, r.spans, r.content_hash64)
        for r in spark.read.parquet(out)
        .groupBy("bucket")
        .agg(
            F.count("*").alias("rows"),
            F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("spans"),
            F.coalesce(F.bit_xor(row_sig), F.lit(0)).alias("content_hash64"),
        )
        .collect()
    }
    manifests = {m["bucket"]: (m["rows"], m["spans"], m["content_hash64"]) for m in read_manifests(out)}
    assert sorted(manifests) == list(range(6))
    assert {k: v for k, v in manifests.items() if v[0] > 0} == back
