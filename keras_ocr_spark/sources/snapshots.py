"""Versioned table snapshots with time travel — Iceberg semantics,
emulated on parquet + atomic JSON manifests.

What Iceberg/Delta give a 100 TB estate that plain parquet dirs do
not: every write is a new immutable VERSION, readers pick a version
(latest by default, any historical one on demand), and the commit
point is a tiny metadata swap — never the data files themselves. This
module provides that contract on the same parquet+manifest substrate
as ``plans/checkpoint.py``, for deployments without the Iceberg
jars.

Layout:

    table/
      data/v1/  data/v2/ ...       immutable parquet per version
      _snapshots/v1.json v2.json   commit manifests (version, path,
                                   n_rows, content_hash, parent)

Commit protocol: ``plans.observe.commit``, the one protocol shared with
checkpoint buckets and streaming epochs. The data directory is written
FIRST, in one job that also observes the manifest's row count and
order-independent content hash (zero extra scans); the manifest is
published LAST, atomically. A crash mid-write leaves an orphan data dir
but never a visible version — readers only trust manifests, exactly the
checkpoint module's "manifest attests data" rule — and a torn manifest
is skipped by ``plans.observe.load_manifests``.

Time travel is then just "read the path the chosen manifest names";
``history`` is a directory listing. Versions are never expired and no
compaction is implemented (out of scope — the emulation is the READ
contract).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..plans.observe import commit, load_manifests


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Commit ``df`` as the next version of ``table_dir``; returns the
    new version number. The manifest is the commit point. Versions are
    immutable, so the data write refuses an existing directory, an
    orphan left by a crashed writer included. Versions are numbered
    from manifest file names, torn ones included, so a damaged
    manifest's number is never reused."""
    root = Path(table_dir)
    versions = sorted(int(p.stem[1:]) for p in (root / "_snapshots").glob("v*.json"))
    v = (versions[-1] + 1) if versions else 1
    rel = f"data/v{v}"
    commit(
        df,
        str(root / rel),
        {
            "n_rows": "count(*)",
            "content_hash": f"coalesce(bit_xor(xxhash64({', '.join(sorted(df.columns))})), 0)",
        },
        lambda audit: {
            root / "_snapshots" / f"v{v}.json": {
                "version": v,
                "path": rel,
                "parent": versions[-1] if versions else None,
                "schema": df.schema.json(),
                **audit,
            }
        },
        mode="error",
    )
    return v


def history(table_dir: str) -> list[dict]:
    """Committed versions, oldest first (manifests only — orphan data
    dirs from crashed writers are invisible here by design)."""
    found = [m for _, m in load_manifests(Path(table_dir) / "_snapshots", "v*.json", ("version",))]
    return sorted(found, key=lambda m: m["version"])


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read ``table_dir`` at ``version`` (latest when omitted). Raises
    on an unknown version rather than silently reading another one."""
    hist = history(table_dir)
    if not hist:
        raise ValueError(f"no committed snapshots under {table_dir}")
    if version is None:
        chosen = hist[-1]
    else:
        byv = {m["version"]: m for m in hist}
        if version not in byv:
            raise ValueError(
                f"version {version} not found; have {sorted(byv)}"
            )
        chosen = byv[version]
    return spark.read.parquet(str(Path(table_dir) / chosen["path"]))


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    v_from: int,
    v_to: int,
    key_cols: list[str],
) -> DataFrame:
    """Change feed between two committed versions — the CDC read that
    makes time travel ACTIONABLE: an incremental consumer processes
    ``snapshot_changes(v_consumed, v_latest)`` instead of re-reading
    100 TB. One full-outer digest join (``operators/merge.py:
    table_diff`` — the shuffle carries an md5 digest per row, not the
    row), statuses renamed to the CDC verbs: ``insert`` (key only in
    ``v_to``), ``delete`` (only in ``v_from``), ``update`` (present in
    both, any value column differs)."""
    from ..operators.merge import table_diff
    from pyspark.sql import functions as F

    old = read_snapshot(spark, table_dir, v_from)
    new = read_snapshot(spark, table_dir, v_to)
    diff = table_diff(old, new, key_cols)
    verb = (
        F.when(F.col("status") == "only_left", F.lit("delete"))
        .when(F.col("status") == "only_right", F.lit("insert"))
        .otherwise(F.lit("update"))
    )
    return diff.select(*key_cols, verb.alias("change"))
