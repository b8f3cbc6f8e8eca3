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
- per-bucket metrics + content hash are observed on that same write job
  (``plans.observe.commit``): one ``count_if``/``sum``/``bit_xor``
  triple per pending bucket, so the manifest attests exactly the rows
  the write committed, with no read-back job. The content hash is
  ORDER-INDEPENDENT — ``bit_xor`` of per-row ``xxhash64`` + the row
  count — so no task ever buffers a whole bucket to hash it.
- resume = read the manifest dir, SKIP every bucket whose manifest
  matches the current lineage — an anti-join of work against completed
  work. The fingerprint covers the config, n_buckets, the input path
  and the input's file listing (relative names, sizes, mtimes): an
  input rewritten in place, or manifests written under a different
  bucketing predicate, never satisfy resume, and stale ``bucket=K``
  directories from an older layout are deleted up front (they are
  uncommitted under the current lineage).

At 10^12-turn scale the real implementation is Iceberg snapshot IDs +
partition-level commit metadata; the manifest JSON here mirrors exactly
those fields.

Atomicity is ``plans.observe.commit``'s: the data is written first and
each manifest is published last, atomically, and names the partition
directory it attests (``path``). A crash during the Spark write leaves
only files no manifest names, so resume recomputes exactly the
uncommitted buckets. ``max_buckets_per_run`` bounds the blast radius of
a crash — each run commits at most that many buckets (still one scan
per run). Streaming epochs (``streaming.extraction.epoch_sink``) commit
through the same helper, so :func:`read_committed` reads both.
"""

from __future__ import annotations

import hashlib
import json
import shutil
from dataclasses import asdict
from pathlib import Path
from typing import Iterable, List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, ExtractionConfig
from .observe import commit, load_manifests
from .pipeline import extract

MANIFEST_DIR = "_manifests"
#: Per-row signature whose ``bit_xor`` is a manifest's ``content_hash64``.
ROW_SIG = "xxhash64(concat_ws(chr(30), conv_id, turn_idx, clean_text))"


def input_listing(input_path: str) -> list:
    """Relative name, size and mtime of every file of the input. A path
    this process cannot list (a remote URI) contributes nothing."""
    root = Path(input_path)
    files = sorted(root.rglob("*")) if root.is_dir() else [root]
    stats = ((p, p.stat()) for p in files if p.is_file())
    return [[p.relative_to(root.parent).as_posix(), st.st_size, st.st_mtime_ns] for p, st in stats]


def _config_fingerprint(cfg: ExtractionConfig, input_path: str, n_buckets: int) -> str:
    payload = json.dumps(
        {"cfg": asdict(cfg), "input": input_path, "listing": input_listing(input_path), "n_buckets": n_buckets},
        sort_keys=True,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def manifest_metrics(where: str = "true", suffix: str = "") -> dict:
    """A manifest's ``rows``, ``spans`` and ``content_hash64`` over the
    extracted rows matching ``where``, as aggregates for the write job
    to observe (each name gets ``suffix``)."""
    return {
        f"rows{suffix}": f"count_if({where})",
        f"spans{suffix}": f"coalesce(sum(if({where}, size(spans), 0)), 0)",
        f"content_hash64{suffix}": f"coalesce(bit_xor(if({where}, {ROW_SIG}, 0)), 0)",
    }


def committed_manifests(out_dir: str, pattern: str = "*.json", fingerprint: Optional[str] = None) -> List[dict]:
    """Manifests under ``out_dir`` (matching ``pattern``) that attest a
    readable commit: complete, of the lineage ``fingerprint`` when set,
    and — when it attests rows — with the directory it names still on
    disk. An intermediate run under a DIFFERENT layout may have deleted
    that directory as stale while the manifest survived (observed when
    alternating n_buckets 6 -> 3 -> 6: resume trusted bucket-3..5.json
    whose dirs the 3-bucket run removed, silently dropping their rows)."""
    return [
        m
        for _, m in load_manifests(Path(out_dir) / MANIFEST_DIR, pattern, ("rows",))
        if m.get("status") == "complete"
        and isinstance(m.get("path"), str)
        and (fingerprint is None or m.get("fingerprint") == fingerprint)
        and (m["rows"] == 0 or (Path(out_dir) / m["path"]).is_dir())
    ]


def completed_buckets(out_dir: str, fingerprint: str, n_buckets: Optional[int] = None) -> List[int]:
    """Buckets whose manifest exists and matches the current lineage."""
    return [
        m["bucket"]
        for m in committed_manifests(out_dir, "bucket-*.json", fingerprint)
        if isinstance(m.get("bucket"), int) and (n_buckets is None or m.get("n_buckets") == n_buckets)
    ]


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
    for p, m in load_manifests(root / MANIFEST_DIR, "bucket-*.json", ("bucket",)):
        if m["bucket"] >= n_buckets or m["bucket"] not in done:
            p.unlink()
    return removed


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
    if n_buckets < 1:  # every bucket K >= 0 would be stale and deleted
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    fingerprint = _config_fingerprint(cfg, input_path, n_buckets)
    done = set(completed_buckets(out_dir, fingerprint, n_buckets))
    _clean_stale_bucket_dirs(out_dir, done, n_buckets)

    pending = sorted(set(range(n_buckets)) - done)
    limit = fail_after_bucket if fail_after_bucket is not None else max_buckets_per_run
    this_run = pending[: limit] if limit is not None else pending
    if not this_run:
        return {"buckets_run": [], "buckets_skipped": sorted(done), "rows": 0}

    metrics = {}
    for bucket in this_run:
        metrics.update(manifest_metrics(f"bucket = {bucket}", f"_{bucket}"))

    def manifests(audit: dict) -> dict:
        return {
            Path(out_dir, MANIFEST_DIR, f"bucket-{bucket}.json"): {
                "status": "complete",
                "bucket": bucket,
                "path": f"bucket={bucket}",
                "n_buckets": n_buckets,
                "fingerprint": fingerprint,
                "input_path": input_path,
                "partition_predicate": f"pmod(xxhash64(conv_id), {n_buckets}) = {bucket}",
                "config": asdict(cfg),
                "rows": audit[f"rows_{bucket}"],
                "spans": audit[f"spans_{bucket}"],
                "content_hash64": audit[f"content_hash64_{bucket}"],
            }
            for bucket in this_run
        }

    result = pending_plan(spark, input_path, this_run, n_buckets, cfg, n_salt)
    audit = commit(result, out_dir, metrics, manifests, partition_by=("bucket",))

    if fail_after_bucket is not None and len(pending) > len(this_run):
        raise RuntimeError(f"injected failure after {len(this_run)} buckets")

    rows = sum(audit[f"rows_{bucket}"] for bucket in this_run)
    return {"buckets_run": this_run, "buckets_skipped": sorted(done), "rows": rows}


def read_manifests(out_dir: str) -> Iterable[dict]:
    """Every parseable bucket manifest, committed or not (corrupt ones
    skipped)."""
    for _, m in load_manifests(Path(out_dir) / MANIFEST_DIR, "bucket-*.json", ("bucket", "rows")):
        yield m


def read_committed(spark: SparkSession, out_dir: str, fingerprint: Optional[str] = None):
    """CONSISTENT READ of a checkpointed or streamed output: only the
    partition directories that :func:`committed_manifests` attests —
    checkpoint buckets (optionally pinned to one lineage
    ``fingerprint``) and streaming epochs alike. A consumer mid-job never
    sees the staging files of a bucket or epoch whose manifest hasn't
    committed, which is exactly the snapshot-isolation read an Iceberg
    table gives for free and plain parquet does not.

    Only the attested directories are listed and scanned (``bucket`` /
    ``epoch_id`` come back as partition columns), so reading k of n
    committed buckets touches k directories. Returns None when nothing
    is committed yet OR when every committed manifest attests rows=0 (a
    rows=0 commit writes no parquet files, so there is no schema on disk
    to offer — schema inference over zero files would raise)."""
    paths = [str(Path(out_dir) / m["path"]) for m in committed_manifests(out_dir, fingerprint=fingerprint) if m["rows"] > 0]
    if not paths:
        return None
    return spark.read.option("basePath", out_dir).parquet(*paths)
