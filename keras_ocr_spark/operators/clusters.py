"""Duplicate-cluster resolution: candidate pairs -> connected components
-> one keeper per cluster.

The dedup family (``operators.dedup``) emits near-duplicate PAIRS; an
actual 100 TB curation pipeline must then drop rows, which needs the
transitive closure — if a~b and b~c, then {a,b,c} is ONE cluster with
ONE keeper, even though (a,c) may never have been a
candidate pair. Graft analog: the reference de-duplicates overlapping
detections with set semantics (``/root/reference/keras_ocr/detection.py:
432-438``); this lifts that from one image's boxes to a corpus-sized
graph.

Algorithm: **alternating large-star / small-star** rounds (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14) — the
shuffle-friendly classic:

- ``large-star``: every node connects its LARGER neighbors to the
  minimum of its closed neighborhood.
- ``small-star``: every node connects its smaller-or-equal neighbors to
  that minimum.

Each step is one hash exchange on the node ``u``: the rows are
deduplicated inside that partitioning and the neighborhood minimum is a
``min`` over ``Window.partitionBy("u")`` on the same partitioning — no
collects, no driver-side graph, no GraphFrames dependency. The edge set
only ever shrinks toward a star per component, converging in O(log n)
rounds even on adversarial chains (plain min-label propagation needs
O(diameter) rounds — a 10^6-long chain would need 10^6 shuffles; this
needs ~20).

Scale notes:
- The loop carries the large-star input in grouped form (both
  orientations of every edge, grouped by node), so a round is the
  small-star exchange plus the exchange that regroups its output — two
  shuffles over the EDGE set, which for dedup is tiny relative to the
  corpus (pairs, not rows) — and one job beyond them: an eager
  ``localCheckpoint`` that truncates the lineage (without it the plan
  doubles per iteration and optimizer time explodes by round ~8).
- Checkpoint blocks are executor-local and cannot be recomputed after an
  executor is lost: the job fails and is rerun (see
  :func:`connected_components`).
- Convergence needs no action of its own: the regrouping exchange also
  tests whether the round's output is a star forest rooted at the
  component minima, the fixed point of a round, and an ``Observation``
  reads the test from the checkpoint job. The loop stops on the round
  that reaches the stars instead of running one more to see an edge-set
  checksum repeat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F


def _oriented(edges: DataFrame) -> DataFrame:
    """Edges as (u, v) with u > v and self-loops dropped (duplicates
    kept: every star step deduplicates inside its own exchange)."""
    return edges.select(
        F.greatest("u", "v").alias("u"),
        F.least("u", "v").alias("v"),
    ).filter(F.col("u") != F.col("v"))


def _neighborhoods(edges: DataFrame) -> DataFrame:
    """Distinct (u, v) rows hash-partitioned on u, with m = min(v) and
    the degree n of u. The distinct and the window both reuse the one
    ``repartition("u")`` exchange."""
    by_u = Window.partitionBy("u")
    return (
        edges.repartition("u")
        .distinct()
        .select("u", "v", F.min("v").over(by_u).alias("m"), F.count("*").over(by_u).alias("n"))
    )


def _symmetric(edges: DataFrame) -> DataFrame:
    """Both orientations of every edge."""
    return edges.select(
        F.inline(F.array(F.struct("u", "v"), F.struct(F.col("v").alias("u"), F.col("u").alias("v"))))
    )


def _large_star_edges(nb: DataFrame) -> DataFrame:
    return nb.filter(F.col("v") > F.col("u")).select(
        F.col("v").alias("u"), F.least("m", "u").alias("v")
    )


def large_star(edges: DataFrame) -> DataFrame:
    """Large-star: for each node u, connect every neighbor v > u to
    m = min(N(u) + {u}). Emitted edges are (v, m). One exchange on u."""
    return _large_star_edges(_neighborhoods(_symmetric(edges)))


def small_star(edges: DataFrame) -> DataFrame:
    """Small-star: orient edges high->low; for each node u, connect
    every smaller neighbor v (and u itself) to m = min(N(u)). The row
    holding m emits (u, m), every other row emits (v, m), so the output
    is oriented u > v with no self-loops. One exchange on u."""
    nb = _neighborhoods(_oriented(edges))
    return nb.select(
        F.when(F.col("v") == F.col("m"), F.col("u")).otherwise(F.col("v")).alias("u"),
        F.col("m").alias("v"),
    )


def _star_neighborhoods(pairs: DataFrame, id_a: str, id_b: str, max_iterations: int) -> DataFrame:
    """Run rounds until the edge set is a star forest; return its
    :func:`_neighborhoods` (every edge in both orientations).

    A round carries the large-star input in neighborhood form, so the
    exchange that groups a round's output by node also tests that
    output: it is a star forest rooted at the component minima — the
    fixed point — unless some node has a smaller neighbor and a second
    neighbor (a second root, or a larger neighbor). An ``Observation``
    reads that test from the round's own checkpoint job, and the loop
    stops on the round that reaches the stars, one before a fixed-point
    checksum could see them repeat."""
    edges = _oriented(pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    # Not checkpointed: the first round reads ``pairs`` exactly once, so
    # its upstream pipeline runs inside that round's job.
    nb = _neighborhoods(_symmetric(edges))
    for _ in range(max_iterations):
        nb = _neighborhoods(_symmetric(small_star(_large_star_edges(nb))))
        shape = Observation()
        nb = nb.observe(shape, F.max(((F.col("m") < F.col("u")) & (F.col("n") > 1)).cast("int")).alias("bad"))
        nb = nb.localCheckpoint(eager=True)
        if not shape.get["bad"]:
            return nb
    raise RuntimeError(f"connected_components did not converge in {max_iterations} iterations")


def _members(nb: DataFrame) -> DataFrame:
    """(id, component) for every non-root node of converged stars: a
    leaf's only row points at its root."""
    return nb.filter(F.col("v") < F.col("u")).select(F.col("u").alias("id"), F.col("v").alias("component"))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(id_a, id_b) pair DataFrame -> (id, component) with component =
    the minimum id in the connected component. Only ids that appear in
    at least one pair are returned (callers union in singletons — see
    :func:`resolve_duplicates`).

    ``max_iterations`` is a backstop: alternation converges in
    O(log n); 25 rounds covers >10^7-node components. Raises if the
    edge set is still not a star forest at the cap (never observed;
    indicates a non-deterministic id column).

    Fault tolerance: each round ends in an eager ``localCheckpoint``,
    whose blocks live on the executors and cannot be recomputed. If an
    executor is lost after a round, the job that reads it fails; the
    remedy is to rerun the whole job. The curation plan that calls this
    (``plans.pipeline.curate``, written by ``scripts/curate_job.py``)
    is idempotent: same input and config, same output. ``checkpoint()``
    is not used: ``plans.session.build_session`` sets no checkpoint
    directory, and a reliable checkpoint writes every round's edges to
    it.
    """
    nb = _star_neighborhoods(pairs, id_a, id_b, max_iterations)
    # A root's neighbors are all larger; its minimum-neighbor row
    # stands for it once.
    roots = nb.filter((F.col("v") == F.col("m")) & (F.col("m") > F.col("u"))).select(
        F.col("u").alias("id"), F.col("u").alias("component")
    )
    return _members(nb).union(roots)


def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """Full dedup resolution: every row of ``df`` gets its cluster
    keeper (the minimum id of its near-dup component; itself when it
    has no near-dups) and the cluster size.

    Output: (id, keeper_id, cluster_size, is_keeper). Downstream, a
    100 TB pipeline keeps ``is_keeper`` rows — one filter drops all
    duplicates. The join back to ``df`` is a left join on the id; the
    component side is pairs-sized (ids that had at least one
    candidate), so at corpus scale it is far smaller than ``df`` and
    usually broadcastable.
    """
    comp = connected_components(pairs, id_a, id_b)
    resolved = (
        df.select(F.col(id_col).alias("id"))
        .join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("keeper_id"))
    )
    sizes = resolved.groupBy("keeper_id").agg(F.count("*").alias("cluster_size"))
    return resolved.join(sizes, "keeper_id").select(
        "id",
        "keeper_id",
        "cluster_size",
        (F.col("id") == F.col("keeper_id")).alias("is_keeper"),
    )


def best_keeper(
    resolved: DataFrame,
    priority: DataFrame,
    priority_col: str = "quality",
) -> DataFrame:
    """Quality-aware keeper selection: re-elect each cluster's keeper
    as the member with the HIGHEST ``priority_col`` (id ascending as
    the tie-break) instead of the minimum id.

    A real curation pipeline keeps the best near-duplicate, not the
    numerically smallest one — the cleanest extraction of a re-crawled
    page, the longest of two truncations. Input: the output of
    :func:`resolve_duplicates` (``id, keeper_id, cluster_size,
    is_keeper``) plus a ``(id, priority_col)`` frame. One join + one
    ``max_by`` aggregation keyed by the cluster (partial aggregation
    shrinks the shuffle to one row per cluster); the min-id
    ``keeper_id`` stays as the stable CLUSTER LABEL, while
    ``best_id``/``is_best`` carry the election.

    Output: (id, keeper_id, cluster_size, best_id, is_best).
    """
    # LEFT joins throughout (r3 ADVICE): a document absent from the
    # priority frame scores NULL, which sorts below every non-null
    # priority in the max_by struct ordering — "missing = lowest
    # priority" — instead of being silently dropped from the output.
    # Ties among all-missing clusters fall through to the -id field
    # (lowest id wins), and coalesce(best_id, keeper_id) keeps the
    # contract that every input row appears exactly once even if the
    # aggregation ever yields no row for a cluster.
    scored = resolved.join(priority.select("id", priority_col), "id", "left")
    best = scored.groupBy("keeper_id").agg(
        F.max_by("id", F.struct(F.col(priority_col), (-F.col("id")).alias("_nid"))).alias("best_id")
    )
    return (
        resolved.join(best, "keeper_id", "left")
        .select(
            "id",
            "keeper_id",
            "cluster_size",
            F.coalesce("best_id", "keeper_id").alias("best_id"),
            (F.col("id") == F.coalesce("best_id", "keeper_id")).alias("is_best"),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    test_nibbles: tuple = ("0", "1", "2", "3"),
) -> DataFrame:
    """Contamination-safe train/test split: the side is decided by the
    md5 of the CLUSTER label (the min-id keeper from
    :func:`resolve_duplicates`), so every member of a near-dup cluster
    lands on the SAME side — the split a real eval pipeline needs,
    because a random per-document split leaks near-duplicates of test
    documents into train (the failure mode contamination checks then
    have to catch after the fact).

    ``test_nibbles`` selects which first-md5-nibble values go to test
    (default 4/16 = 25% expected, deterministic and engine-stable).
    The keeper comes straight from the converged star edges (a root or
    a singleton has no edge and keeps itself); no cluster-size
    aggregate. Output: (id, keeper_id, split) followed by the other
    columns of ``df``, so a pipeline keeps each row's payload without
    joining it back by id.
    """
    members = _members(_star_neighborhoods(pairs, "id_a", "id_b", 25))
    rest = [c for c in df.columns if c != id_col]
    # A left join in one exchange: the rows and the star edges are
    # co-grouped by id, and each row takes the component of the edge in
    # its group. (A join of the two frames costs an exchange per side.)
    rows = df.select(F.col(id_col).alias("id"), *rest, F.lit(True).alias("_row"))
    grouped = rows.unionByName(members, allowMissingColumns=True).select(
        "_row", "id", *rest, F.max("component").over(Window.partitionBy("id")).alias("component")
    )
    keeper_id = F.coalesce("component", "id")
    is_test = F.substring(F.md5(keeper_id.cast("string")), 1, 1).isin(*test_nibbles)
    return grouped.filter(F.col("_row")).select(
        "id",
        keeper_id.alias("keeper_id"),
        F.when(is_test, F.lit("test")).otherwise(F.lit("train")).alias("split"),
        *rest,
    )
