#!/usr/bin/env python
"""Local replica of the driver's correctness gate: run every
``driver_queries`` entry on Spark AND DuckDB at a given sf dir; compare
row count, column names, and order-insensitive values.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import duckdb  # noqa: E402

from keras_ocr_spark.driver_queries import QUERIES  # noqa: E402
from keras_ocr_spark.plans.session import build_session  # noqa: E402

TABLES = ["documents"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 9)
    return v


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = build_session(app_name="check_oracles", master="local[8]", shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if Path(p).exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    failures = []
    attempted = 0
    for name, (fn, sql) in QUERIES.items():
        if only and name not in only:
            continue
        attempted += 1
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = sorted(tuple(norm(v) for v in row) for row in sdf.collect())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        if sql is None:
            print(f"ok    {name}: rows={len(s_rows)} (no oracle — rows-only)")
            continue
        try:
            res = con.execute(sql)
            d_cols = [c[0] for c in res.description]
            d_rows = sorted(tuple(norm(v) for v in row) for row in res.fetchall())
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL  {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            continue
        if s_cols != d_cols:
            failures.append(name)
            print(f"FAIL  {name}: columns spark={s_cols} duckdb={d_cols}")
            continue
        if len(s_rows) != len(d_rows):
            failures.append(name)
            print(f"FAIL  {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}")
            print(f"      spark head: {s_rows[:2]}\n      duck head:  {d_rows[:2]}")
            continue
        diff = [i for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b]
        if diff:
            failures.append(name)
            i = diff[0]
            print(f"FAIL  {name}: {len(diff)}/{len(s_rows)} rows differ; first at {i}:")
            print(f"      spark: {s_rows[i]}\n      duck:  {d_rows[i]}")
            continue
        print(f"OK    {name}: rows={len(s_rows)}")

    spark.stop()
    scope = "" if not only else f" (of {len(QUERIES)} registered; filtered run)"
    print(f"\n{attempted - len(failures)}/{attempted} queries match{scope}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
