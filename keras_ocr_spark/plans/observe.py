"""Write-time audit metrics via Spark's Observation API, and the one
manifest-commit protocol built on them.

A pipeline that writes 100 TB and THEN runs an audit query pays a
second full scan for the audit. ``Observation`` attaches aggregate
metrics to the frame itself: they are computed by the SAME tasks that
execute the write and become available the moment the action finishes —
zero extra jobs, zero extra IO (exactly-once semantics per action,
unlike accumulators which double-count task retries).

``commit`` writes a frame and returns named SQL aggregates (counts,
null counts, sums) observed on that write. It is the commit protocol
every manifest-attested writer shares — checkpoint buckets
(``plans/checkpoint.py``), snapshot versions (``sources/snapshots.py``),
streaming epochs (``streaming/extraction.py``) and the curation job's
``_summary.json`` (``scripts/curate_job.py``):

1. the data is written ONCE, in one job, with the manifest metrics
   observed on that write (the manifest attests what the write job
   itself saw, with no read-back);
2. only then is each manifest published by ``publish_json``: a temp
   file, then an atomic rename. A writer killed anywhere before that
   rename leaves data no manifest names, which every reader ignores; a
   reader never sees a half-written manifest.

``load_manifests`` is the one reader of that protocol: it skips torn
or corrupt files, so whatever they would attest counts as uncommitted.

Caveat (documented, tested): observed metrics are computed on the rows
as the observe node sees them — attach the observation to the FINAL
frame (after every filter/projection), or the audit describes an
intermediate result, not what landed in the files.
"""

from __future__ import annotations

import json
import os
from pathlib import Path
from typing import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def publish_json(path: Path | str, obj: dict) -> None:
    """Atomically publish ``obj`` as JSON at ``path``: write a temp file
    beside it, then rename it over ``path`` (atomic on POSIX)."""
    path = Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    tmp.write_text(json.dumps(obj, sort_keys=True, indent=1))
    os.replace(tmp, path)


def load_manifests(directory: Path | str, pattern: str, ints: Sequence[str] = ()) -> Iterator[tuple[Path, dict]]:
    """Every parseable manifest under ``directory`` matching ``pattern``,
    with its path, in name order; the ``ints`` fields are coerced to
    ``int``. A torn or corrupt file (bad JSON, not an object, an ``ints``
    field missing or not an integer) is skipped."""
    for p in sorted(Path(directory).glob(pattern)):
        try:
            m = json.loads(p.read_text())
            m.update({k: int(m[k]) for k in ints})
        except (OSError, ValueError, TypeError, KeyError, AttributeError):
            continue
        yield p, m


def commit(
    df: DataFrame,
    path: str,
    metrics: dict[str, str],
    manifests: Callable[[dict], dict],
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> dict:
    """Write ``df`` to ``path`` as parquet in one job while observing
    ``metrics`` (name -> aggregate SQL expression), then publish every
    ``{manifest path: manifest}`` that ``manifests(observed values)``
    returns. Returns the observed values.

    With ``partition_by`` the overwrite is dynamic: it replaces only the
    partitions present in ``df`` and leaves the others, and the
    session's ``partitionOverwriteMode`` alone."""
    if not metrics:
        raise ValueError("at least one metric is required")
    obs = Observation("write_audit")
    writer = df.observe(obs, *[F.expr(e).alias(n) for n, e in metrics.items()]).write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by).option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)
    audit = dict(obs.get)
    for manifest_path, manifest in manifests(audit).items():
        publish_json(manifest_path, manifest)
    return audit

