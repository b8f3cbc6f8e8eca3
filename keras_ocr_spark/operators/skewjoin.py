"""Salted join — the explicit skew-join technique, the manual
counterpart of AQE's automatic skew split (``tests/test_aqe_skew.py``).

When one join key holds a disproportionate share of the fact side
(the 700-turn conversation; the bot user with 10^8 events), a plain
hash join lands that key's every row in ONE reducer. AQE splits such
partitions automatically when statistics surface them; the MANUAL
form below is the guaranteed fix a pipeline reaches for when it
already knows its hot keys (or can't rely on runtime stats — e.g.,
stream-static joins, or skew inside a single key that AQE cannot
split across its join):

    fact:  salt = row-position % n_salt              (row spread —
           position-based, so even fully IDENTICAL duplicate rows of
           the hot key spread across salts; a value-hash salt would
           send them all to one reducer, silently un-mitigating the
           exact scenario above)
    dim:   replicated once per salt value (explode)  (n_salt copies)
    join on (key, salt)                              (hot key now in
                                                      n_salt reducers)

Cost: the dim side shuffles n_salt-fold (choose n_salt ~ the skew
factor, not more); result rows are identical to the unsalted join —
asserted against it in tests.

Reference analog: the batch-assembly padding split
(``/root/reference/keras_ocr/recognition.py:504-526``) — spreading
one oversized work item across uniform units.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    n_salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """``fact ⋈ dim`` on ``key`` with the fact side salted and the dim
    side replicated ``n_salt`` times. Result equals the plain join
    (same rows, modulo column order); only the physical distribution
    differs. ``dim`` columns must not collide with fact columns other
    than ``key``.

    ``how`` is restricted to the fact-preserving joins: any join that
    preserves UNMATCHED dim rows ('right', 'full') would return each
    of them ``n_salt`` times (one per unmatched replica) and is
    rejected.
    """
    if n_salt < 1:
        raise ValueError("n_salt must be >= 1")
    allowed = {"inner", "left", "left_outer", "leftouter", "left_semi", "leftsemi", "left_anti", "leftanti"}
    if how not in allowed:
        raise ValueError(f"how={how!r} would duplicate unmatched dim replicas; use one of {sorted(allowed)}")
    f_salted = fact.withColumn(
        "_salt", F.pmod(F.monotonically_increasing_id(), F.lit(n_salt)).cast("int")
    )
    d_repl = dim.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(n_salt)]))
    )
    out = f_salted.join(d_repl, [key, "_salt"], how)
    return out.drop("_salt")


def skew_report(
    df: DataFrame,
    key: str,
    target_rows_per_task: int = 1_000_000,
    top_k: int = 5,
) -> DataFrame:
    """Pre-join skew diagnostic: the report a pipeline runs on its fact
    table BEFORE choosing a join strategy — per-key heavy hitters plus
    the ``n_salt`` each would need under :func:`salted_join`.

    Returns ``top_k`` rows (heaviest keys first):
    ``rank, key_repr, key_rows, share_ppm, n_rows, n_keys,
    avg_rows_per_key, skew_x100, salt_factor`` — all-integer math
    (``div``, verified bit-identical Spark vs DuckDB) so the report is
    engine-portable with no float rendering:

    - ``share_ppm``   = key_rows * 1e6 div n_rows (parts per million)
    - ``skew_x100``   = key_rows * 100 div avg_rows_per_key
    - ``salt_factor`` = ceil(key_rows / target_rows_per_task), >= 1 —
      feed the top row's value straight into ``salted_join(n_salt=...)``.

    Plan shape (the 100 TB story): the per-key count is ONE partial-agg
    shuffle — map-side combine collapses even the hottest key locally,
    so the diagnostic itself is immune to the skew it measures. Both
    consumers of the counts frame (the 1-row totals aggregate and the
    top-k) share that exchange via Spark's ReuseExchange — the fact is
    scanned ONCE (asserted in tests). Top-k is TakeOrderedAndProject
    (no global sort of the key space); the totals ride a whitelisted
    1-row-broadcast BNLJ; rank is a window over the already-limited
    <= top_k rows.
    """
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    if target_rows_per_task < 1:
        raise ValueError("target_rows_per_task must be >= 1")
    counts = df.groupBy(F.col(key)).agg(F.count(F.lit(1)).alias("key_rows"))
    totals = counts.agg(
        F.sum("key_rows").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    topk = counts.orderBy(F.desc("key_rows"), F.col(key)).limit(top_k)
    w = Window.orderBy(F.desc("key_rows"), F.col(key))
    return (
        topk.crossJoin(F.broadcast(totals))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .select(
            "rank",
            F.col(key).cast("string").alias("key_repr"),
            F.col("key_rows").cast("long").alias("key_rows"),
            F.expr("key_rows * 1000000L div n_rows").alias("share_ppm"),
            "n_rows",
            "n_keys",
            F.expr("n_rows div n_keys").alias("avg_rows_per_key"),
            F.expr("key_rows * 100L div (n_rows div n_keys)").alias("skew_x100"),
            F.greatest(
                F.lit(1).cast("long"),
                F.expr(f"(key_rows + {target_rows_per_task} - 1) div {target_rows_per_task}").cast("long"),
            ).alias("salt_factor"),
        )
    )
