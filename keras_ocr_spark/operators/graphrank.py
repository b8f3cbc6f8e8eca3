"""Fixed-iteration PageRank over the shared-shingle document graph.

Documents that share word k-gram shingles form an (undirected) overlap
graph; PageRank over it surfaces the "template hubs" — boilerplate
families, mirror clusters, mass-produced near-duplicates — whose
members a curation pass should down-weight, the graph-centrality
complement of the pairwise dedup operators in ``operators/dedup.py``.
Reference analog: ``get_maximum_uniform_contour``'s pick-the-dominant-
region idea (``/root/reference/keras_ocr/tools.py:131-150``) lifted
from one image's contours to corpus-level dominance.

Determinism across engines (the repo's integer fixed-point
discipline): ranks live in int64 MICRO-units and every update is
integer arithmetic —
``r' = floor((1-d)*1e6) + (d_num * Σ_in (r DIV deg)) DIV d_den`` with
the damping factor held as the exact rational ``d_num/d_den`` (17/20 =
0.85). Truncating integer division of non-negative values is identical
in Spark (``DIV``) and DuckDB (``//``), so after any number of
iterations the ranks are bit-equal with no float in sight; the public
column converts to double only at the very end.

Scale shape:

- Edge generation is the bucketed-pair discipline used everywhere in
  this repo: explode distinct shingle digests, ONE digest groupBy for
  group sizes, drop digests shared by more than ``max_group`` docs (a
  digest shared by millions of docs is boilerplate, not signal — and
  would otherwise go quadratic), then an equi-self-join *within* digest
  groups bounded by ``max_group²`` pairs each. Never all-pairs, no
  cartesian.
- Each iteration is one equi-join (edges ⋈ ranks on src — edges carry
  deg(src) from a one-time join) + one groupBy(dst): O(iters) shuffles
  on the same key, the textbook distributed-PageRank shape. ``iters``
  is a small fixed constant (the oracle unrolls it), so lineage stays
  bounded without checkpointing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import shingles_expr, words_expr

#: rank fixed-point scale (micro-units)
_SCALE = 1_000_000


def shingle_graph_pagerank(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    max_group: int = 8,
    iters: int = 3,
    d_num: int = 17,
    d_den: int = 20,
) -> DataFrame:
    """PageRank over the graph whose edges link documents sharing at
    least one word ``k``-gram shingle (digest groups capped at
    ``max_group`` docs). Returns ``(id, deg, rank)`` for every node of
    the graph, ``rank`` in units of 1.0 = initial rank.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    digests = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles_expr(words_expr(F.col(text_col)), k)).alias("s"),
    ).select("id", F.md5("s").alias("g"))
    sizes = (
        digests.groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= max_group))
        .select("g")
    )
    elig = digests.join(sizes, "g")
    a, b = elig.alias("a"), elig.alias("b")
    # NOTE (r6): do NOT localCheckpoint the loop-invariant frames here —
    # the repeated subtrees below are IDENTICAL, so physical planning
    # dedupes them via ReuseExchange and the digest join genuinely runs
    # once; cutting lineage was measured 3x SLOWER (it breaks the reuse
    # and pays materialization of the full edge list instead).
    pairs = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
        .distinct()
    )
    edges = pairs.unionAll(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    edges_d = edges.join(deg, "src")  # deg(src) rides every edge once
    nodes = deg.select(F.col("src").alias("id"), "deg")

    base = (_SCALE * (d_den - d_num)) // d_den  # floor((1-d) * SCALE), exact
    ranks = nodes.select("id", F.lit(_SCALE).cast("long").alias("r"))
    for _ in range(iters):
        contrib = (
            edges_d.join(ranks, edges_d["src"] == ranks["id"])
            .select(F.col("dst"), F.expr("r DIV deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").cast("long").alias("s"))
        )
        ranks = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .select(
                nodes["id"],
                (
                    F.lit(base)
                    + F.expr(f"({d_num} * coalesce(s, 0L)) DIV {d_den}")
                ).cast("long").alias("r"),
            )
        )
    return nodes.join(ranks, "id").select(
        "id", "deg", (F.col("r") / F.lit(float(_SCALE))).cast("double").alias("rank")
    )
