"""Portable rounding.

``round(x, n)`` differs between engines at half-boundaries (banker's vs
half-up vs decimal-string based), which breaks exact cross-engine value
hashing. ``pround`` is defined as ``floor(x * 10^n + 0.5) / 10^n`` — a
fixed IEEE-double op sequence that yields bit-identical results in Spark
and DuckDB given identical inputs. Use the matching SQL form
``floor(x * 10^n + 0.5) / 10^n`` in oracles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def pround(col: Column, n: int) -> Column:
    scale = float(10**n)
    return (F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)).cast("double")
