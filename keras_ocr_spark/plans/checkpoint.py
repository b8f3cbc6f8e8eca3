"""Per-partition checkpoint manifests + exact resume — SINGLE-PASS.

Graft analog of the reference's resume-from-checkpoint training loop
(``/root/reference/scripts/train_recognizer_synthtext90_multigpu.py:
126-147`` resumes from the latest saved weights; ``ModelCheckpoint`` at
``:208-216`` persists per-epoch state). The unit of resumable work is a
**bucket of conversations** (``pmod(xxhash64(conv_id), n_buckets)``):

- ONE job reads the input ONCE, computes every pending bucket, and
  writes ``out/bucket=K/`` via dynamic partition overwrite (committed
  buckets' directories are never touched). The old per-bucket loop
  re-scanned the input once per bucket — pmod(xxhash64) is a predicate
  parquet cannot prune, so 8 buckets meant 8 full scans (8x read
  amplification at 100 TB). Now: one scan per run, regardless of
  n_buckets (asserted in tests/test_checkpoint.py plan-shape check).
- per-bucket metrics + content hash come from ONE grouped read-back of
  the committed files (the manifest attests what was written, not the
  plan). The content hash is ORDER-INDEPENDENT — ``bit_xor`` of per-row
  ``xxhash64`` + the row count — not the old
  ``sha2(sort_array(collect_list(...)))`` which funnelled an entire
  bucket into a single aggregation buffer (a one-task memory bomb).
- resume = read the manifest dir, SKIP every bucket whose manifest
  matches the current (config, input, n_buckets) lineage — an anti-join
  of work against completed work. The fingerprint INCLUDES n_buckets:
  manifests written under a different bucketing predicate never satisfy
  resume, and stale ``bucket=K`` directories from an older layout are
  deleted up front (they are uncommitted under the current lineage).

At 10^12-turn scale the real implementation is Iceberg snapshot IDs +
partition-level commit metadata; the manifest JSON here mirrors exactly
those fields behind a thin seam (``TableIO``), so the catalog swap is a
config change, not a rewrite.

Atomicity: manifests are written to a temp name then ``os.replace``d —
a crashed writer never leaves a half-manifest that resume would trust.
A crash during the Spark write itself leaves only uncommitted staging
files (no manifest), so resume recomputes exactly the uncommitted
buckets. ``max_buckets_per_run`` bounds the blast radius of a crash —
each run commits at most that many buckets (still one scan per run).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict
from pathlib import Path
from typing import Iterable, Iterator, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig
from .pipeline import extract

MANIFEST_DIR = "_manifests"


def _config_fingerprint(cfg: ExtractionConfig, input_path: str, n_buckets: int) -> str:
    payload = json.dumps(
        {"cfg": asdict(cfg), "input": input_path, "n_buckets": n_buckets}, sort_keys=True
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def _load_manifests(out_dir: str) -> Iterator[Tuple[Path, dict]]:
    """Every parseable manifest with its path. A half-written or corrupt
    file (bad JSON, no integer ``bucket``/``rows``) is skipped: its bucket
    counts as uncommitted, so resume redoes and rewrites it."""
    for p in sorted((Path(out_dir) / MANIFEST_DIR).glob("bucket-*.json")):
        try:
            m = json.loads(p.read_text())
            m["bucket"], m["rows"] = int(m["bucket"]), int(m.get("rows", 0))
        except (OSError, ValueError, TypeError, KeyError):
            continue
        yield p, m


def _committed_manifests(
    out_dir: str, fingerprint: Optional[str] = None, n_buckets: Optional[int] = None
) -> List[dict]:
    """Manifests that attest a readable committed bucket: complete, of the
    given lineage (``fingerprint``/``n_buckets`` when set), and — when it
    attests rows — with its bucket directory still on disk. An
    intermediate run under a DIFFERENT layout may have deleted that
    directory as stale while the manifest survived (observed when
    alternating n_buckets 6 -> 3 -> 6: resume trusted bucket-3..5.json
    whose dirs the 3-bucket run removed, silently dropping their rows)."""
    committed = []
    for _, m in _load_manifests(out_dir):
        if m.get("status") != "complete":
            continue
        if fingerprint is not None and m.get("fingerprint") != fingerprint:
            continue
        if n_buckets is not None and m.get("n_buckets") != n_buckets:
            continue  # belt-and-suspenders: fingerprint already covers it
        if m["rows"] > 0 and not (Path(out_dir) / f"bucket={m['bucket']}").is_dir():
            continue
        committed.append(m)
    return committed


def completed_buckets(out_dir: str, fingerprint: str, n_buckets: Optional[int] = None) -> List[int]:
    """Buckets whose manifest exists and matches the current lineage."""
    return [m["bucket"] for m in _committed_manifests(out_dir, fingerprint, n_buckets)]


def _clean_stale_bucket_dirs(out_dir: str, done: set, n_buckets: int) -> List[int]:
    """Delete bucket=K dirs that are NOT committed under the current
    lineage: leftovers from a different n_buckets layout (K can exceed
    the current range) or from a crashed/partial run. Without this, a
    shrink of n_buckets would leave stale data that a directory-level
    read would silently include."""
    removed = []
    root = Path(out_dir)
    if not root.is_dir():
        return removed
    for p in sorted(root.glob("bucket=*")):
        try:
            k = int(p.name.split("=", 1)[1])
        except ValueError:
            continue
        if k >= n_buckets or k not in done:
            shutil.rmtree(p)
            removed.append(k)
    # Stale manifests too: a bucket-K.json from an older lineage is never
    # trusted for resume, but leaving it would make read_manifests()
    # double-count rows across layouts.
    # Corrupt manifests are redone (and rewritten) anyway.
    for p, m in _load_manifests(out_dir):
        if m["bucket"] >= n_buckets or m["bucket"] not in done:
            p.unlink()
    return removed


def _write_manifest(out_dir: str, bucket: int, manifest: dict) -> None:
    mdir = Path(out_dir) / MANIFEST_DIR
    mdir.mkdir(parents=True, exist_ok=True)
    tmp = mdir / f".bucket-{bucket}.json.tmp"
    tmp.write_text(json.dumps(manifest, sort_keys=True, indent=1))
    os.replace(tmp, mdir / f"bucket-{bucket}.json")  # atomic publish


def pending_plan(
    spark: SparkSession,
    input_path: str,
    buckets: List[int],
    n_buckets: int,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    n_salt: int = 0,
) -> DataFrame:
    """The single-scan plan computing every pending bucket: scan ->
    [bucket filter] -> extract (map-only) -> bucket column. Exposed so
    tests can assert the plan contains exactly ONE scan of the input."""
    transcripts = spark.read.parquet(input_path)
    if len(buckets) < n_buckets:
        transcripts = transcripts.filter(bucket_expr(n_buckets).isin(buckets))
    result = extract(transcripts, cfg=cfg, n_salt=n_salt)
    return result.withColumn("bucket", bucket_expr(n_buckets))


def run_with_checkpoints(
    spark: SparkSession,
    input_path: str,
    out_dir: str,
    n_buckets: int = 8,
    cfg: ExtractionConfig = DEFAULT_CONFIG,
    n_salt: int = 0,
    max_buckets_per_run: Optional[int] = None,
    fail_after_bucket: Optional[int] = None,
) -> dict:
    """Checkpointed extraction: one single-scan job per run, per-bucket
    manifests, resume skips committed buckets.

    ``max_buckets_per_run`` caps how many pending buckets one run
    commits (checkpoint interval — crash loses at most one run's work).
    ``fail_after_bucket`` is the kill/resume test hook: commit that many
    buckets, then crash.

    Returns a summary dict {buckets_run, buckets_skipped, rows}.
    """
    fingerprint = _config_fingerprint(cfg, input_path, n_buckets)
    done = set(completed_buckets(out_dir, fingerprint, n_buckets))
    _clean_stale_bucket_dirs(out_dir, done, n_buckets)

    pending = sorted(set(range(n_buckets)) - done)
    limit = fail_after_bucket if fail_after_bucket is not None else max_buckets_per_run
    this_run = pending[: limit] if limit is not None else pending
    if not this_run:
        return {"buckets_run": [], "buckets_skipped": sorted(done), "rows": 0}

    result = pending_plan(spark, input_path, this_run, n_buckets, cfg, n_salt)

    # Dynamic partition overwrite: only the partitions present in this
    # run's data are replaced; committed buckets stay untouched.
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        result.write.mode("overwrite").partitionBy("bucket").parquet(out_dir)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)

    # Metrics + content hash from what was WRITTEN, ONE grouped pass
    # (read-back: the manifest attests the committed files, not the
    # plan). bit_xor(xxhash64(row)) + count is order-independent and
    # streams through partial aggregation — no collect_list buffer.
    # An empty input (or all-empty pending buckets) produces a
    # partitioned write with NO data files — reading the directory back
    # would fail schema inference, so skip the read-back and commit
    # rows=0 manifests (an empty job must still checkpoint cleanly).
    has_data = any(Path(out_dir).glob("bucket=*/*.parquet"))
    stats = {}
    if has_data:
        written = spark.read.parquet(out_dir).filter(F.col("bucket").isin(this_run))
        row_sig = F.xxhash64(F.concat_ws("\x1e", "conv_id", "turn_idx", "clean_text"))
        stats = {
            int(r["bucket"]): r
            for r in written.groupBy("bucket")
            .agg(
                F.count("*").alias("rows"),
                F.coalesce(F.sum(F.size("spans")), F.lit(0)).alias("spans"),
                F.coalesce(F.bit_xor(row_sig), F.lit(0)).alias("content_hash64"),
            )
            .collect()
        }

    total_rows = 0
    for bucket in this_run:
        r = stats.get(bucket)
        rows, spans, chash = (int(r["rows"]), int(r["spans"]), int(r["content_hash64"])) if r else (0, 0, 0)
        _write_manifest(
            out_dir,
            bucket,
            {
                "status": "complete",
                "bucket": bucket,
                "n_buckets": n_buckets,
                "fingerprint": fingerprint,
                "input_path": input_path,
                "partition_predicate": f"pmod(xxhash64(conv_id), {n_buckets}) = {bucket}",
                "config": asdict(cfg),
                "rows": rows,
                "spans": spans,
                "content_hash64": chash,
            },
        )
        total_rows += rows

    if fail_after_bucket is not None and len(pending) > len(this_run):
        raise RuntimeError(f"injected failure after {len(this_run)} buckets")

    return {"buckets_run": this_run, "buckets_skipped": sorted(done), "rows": total_rows}


def read_manifests(out_dir: str) -> Iterable[dict]:
    """Every parseable manifest, committed or not (corrupt ones skipped)."""
    for _, m in _load_manifests(out_dir):
        yield m


def read_committed(spark: SparkSession, out_dir: str, fingerprint: Optional[str] = None):
    """CONSISTENT READ of a checkpointed output: only buckets whose
    manifests attest completion (optionally pinned to one lineage
    ``fingerprint``) — a consumer mid-job never sees the staging files
    of a bucket whose manifest hasn't committed, which is exactly the
    snapshot-isolation read an Iceberg table gives for free and plain
    parquet does not.

    The bucket list becomes partition PRUNING on the scan (bucket is
    the physical partition key), so reading k of n committed buckets
    touches k directories. Returns None when nothing is committed yet
    OR when every committed bucket attests rows=0 (a rows=0 commit
    writes no parquet files, so there is no schema on disk to offer —
    schema inference over zero files would raise). The commit rule is
    :func:`completed_buckets`' own: a corrupt manifest, or a rows>0
    manifest whose bucket directory a later re-layout deleted, is NOT
    readable and is excluded."""
    manifests = _committed_manifests(out_dir, fingerprint)
    committed = [m["bucket"] for m in manifests]
    any_rows = any(m["rows"] > 0 for m in manifests)
    if not committed or not any_rows:
        return None
    df = spark.read.option("basePath", out_dir).parquet(out_dir)
    return df.filter(F.col("bucket").isin(committed))
