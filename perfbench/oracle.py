"""The curation reference: the package's registered DuckDB oracle for
``curate_corpus``, run on the benchmark's input.

Run as one statement, DuckDB inlines every common table expression at
each of its uses and re-runs the shared chains (shingles, LSH, the
recursive closure) once per consumer: over two minutes on one thread at
2,000 documents. This module runs the same SQL one CTE at a time
instead, each materialized into a temp table before the next reads it,
which gives the same rows in seconds.
"""

from __future__ import annotations

import math
import re

import duckdb

_HEAD = re.compile(r"\s*WITH\s+(RECURSIVE\s+)?", re.I)
_NAME = re.compile(r"\s*(\w+)\s*(\([^()]*\))?\s+AS\s*\(", re.I)


def _close(sql: str, i: int) -> int:
    """Index just past the parenthesis that closes the one before ``i``."""
    depth, quoted = 1, False
    while i < len(sql):
        c = sql[i]
        if quoted:
            quoted = c != "'"
        elif c == "'":
            quoted = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    raise ValueError("unbalanced parentheses")


def split_ctes(sql: str) -> tuple:
    """([(name, column list or '', body)], final select) of a
    ``WITH [RECURSIVE] name AS (...), ... SELECT ...`` query."""
    m = _HEAD.match(sql)
    if not m:
        raise ValueError("not a WITH query")
    i, ctes = m.end(), []
    while True:
        m = _NAME.match(sql, i)
        if not m:
            raise ValueError(f"no CTE header at offset {i}")
        end = _close(sql, m.end())
        ctes.append((m.group(1), m.group(2) or "", sql[m.end() : end - 1]))
        rest = sql[end:].lstrip()
        if not rest.startswith(","):
            return ctes, rest
        i = len(sql) - len(rest) + 1


def norm(v):
    """A value as the repo's oracle gate compares it."""
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    return v


def run(sql: str, tables: dict, threads: int) -> tuple:
    """(column names, rows) of ``sql`` over parquet ``tables``
    ({view name: file})."""
    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {int(threads)}")
        for name, path in tables.items():
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        ctes, final = split_ctes(sql)
        for name, cols, body in ctes:
            con.execute(f"CREATE TEMP TABLE {name} AS WITH RECURSIVE {name}{cols} AS ({body}) SELECT * FROM {name}")
        res = con.execute(final)
        cols = [c[0] for c in res.description]
        return cols, [tuple(norm(v) for v in row) for row in res.fetchall()]
    finally:
        con.close()
