"""Duplicate-cluster resolution: connected components over near-dup
pairs, then canonical-document selection.

The pair generators in :mod:`.dedup` (exact Jaccard, MinHash+LSH,
SimHash) and :mod:`.knn` (embedding cosine) emit EDGES
``(id_a, id_b)``.  Production dedup needs the transitive closure: if
A~B and B~C, all three are one duplicate group and exactly one
survives.  That is connected components on the pair graph — the step
the reference's single-node pipeline never needs (it deduplicates
inside one process) but a 100 TB corpus cannot skip.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", 2014) — converges in
O(log n) rounds regardless of component diameter, unlike plain
min-label propagation whose round count is the graph diameter (a
duplicate *chain* A~B~C~...~Z needs |chain| rounds under propagation
but ~log rounds here).  Each half-round is one groupBy + one
equi-join on node ids:

* no ``collect_list`` neighborhoods — a viral near-dup hub with 10^7
  edges stays splittable because the min-neighbor reduce is a partial
  (map-side) aggregate and the join back is AQE-skew-splittable;
* per-round lineage is cut with :func:`..session.barrier`, durable
  once ``spark.sparkContext.setCheckpointDir`` points at durable
  storage;
* convergence is detected with one tiny action per round — an
  order-independent fingerprint ``(count, xor-ish sum of edge
  hashes)`` of the canonical edge set, not a full frame comparison.

At convergence the edge set is a forest of depth-1 stars rooted at
each component's minimum id, so the component label of every
non-root node is literally its single remaining neighbor.

Reference parity note: the reference has no multi-document dedup at
all (its unit is OSM objects, deduplicated by primary key on import —
osmquadtreepostgis/__init__.py table DDL); this operator family is
part of the BASELINE.json training-data mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import barrier

__all__ = [
    "connected_components",
    "resolve_duplicates",
]


def _canon(edges: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct canonical edge list (big, small), self-loops dropped."""
    return (
        edges.select(
            F.greatest(F.col(a), F.col(b)).alias("big"),
            F.least(F.col(a), F.col(b)).alias("small"),
        )
        .filter(F.col("big") != F.col("small"))
        .distinct()
    )


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    """Order-independent edge-set fingerprint: one cheap action."""
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        # bit_xor: order-independent and cannot overflow under ANSI
        # (a plain sum of int64 hashes does); count guards the xor's
        # pair-cancellation blind spot
        F.coalesce(F.expr("bit_xor(xxhash64(big, small))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def connected_components(
    edges: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Component label per node of the undirected graph ``edges``.

    Returns ``(node, component)`` where ``component`` is the minimum
    node id in the node's connected component — one row per distinct
    endpoint of a non-self-loop edge (callers holding isolated nodes
    — or nodes appearing only in self-loops — join this back with a
    coalesce-to-self; :func:`resolve_duplicates` does).

    ``max_iter`` bounds the star rounds; 25 doublings cover any graph
    that fits in 2^25-deep forests (i.e. any realistic corpus — the
    bound is O(log n) rounds).  Raises if the loop exits unconverged
    so a silent wrong answer is impossible.

    Fixed-cost note: each round costs two driver actions (checkpoint
    materialize + fingerprint); the fingerprint reads the round's
    already-checkpointed edges, so it is ~10x cheaper than a wasted
    extra star round and runs every round. Checkpoints happen every
    round: lineage must not compound across rounds or Catalyst
    re-analyzes a growing tree.
    """
    e = barrier(_canon(edges, id_a, id_b))
    # every later read — node set included — comes off this
    # materialized frame, so the (possibly expensive) upstream pair
    # query runs exactly once
    e0 = e
    fp = _fingerprint(e)

    for _ in range(max_iter):
        # ---- large-star: for every node u, attach each LARGER
        # neighbor v to m(u) = min(N(u) ∪ {u}).  Directed both ways so
        # each endpoint sees its full neighborhood.
        sym = e.select(
            F.col("big").alias("u"), F.col("small").alias("v")
        ).unionByName(e.select(F.col("small").alias("u"), F.col("big").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select("u", F.least("mn", "u").alias("m"))
        # emitted edge (v, m): v > u >= m, already canonical. NO
        # distinct here (r6): sym has one row per directed edge and
        # mins is unique per u, so the join emits no join-dups — only
        # different u's mapping to the same (v, m) repeat, and the
        # min-aggregate below plus the end-of-round distinct absorb
        # those; the dropped exchange saves one full shuffle per round
        # (measured with the every-round fingerprint below: 10.1 s ->
        # 7.3 s for the 2.2M-edge spatial graph at sf1.0)
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("big"), F.col("m").alias("small"))
            .filter(F.col("big") != F.col("small"))
        )
        # ---- small-star on the large-star output: every node u with
        # its SMALLER neighbors N<(u); connect all of N<(u) ∪ {u} to
        # the minimum of that set.
        smins = large.groupBy("big").agg(F.min("small").alias("m"))
        e = barrier(
            large.join(smins, "big")
            .select(F.col("small").alias("x"), "m")
            .unionByName(smins.select(F.col("big").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("big"), F.col("m").alias("small"))
            .distinct()
        )
        # fingerprint EVERY round (r6): the check reads the round's
        # already-materialized checkpoint, ~0.1 s, while a wasted
        # extra star round costs ~1 s — the every-2nd-round schedule
        # saved the wrong side of that trade
        nfp = _fingerprint(e)
        if nfp == fp:
            break
        fp = nfp
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # converged: stars (child -> component-min). Roots never appear as
    # 'big'; give them their self-label. Node set reads the CHECKPOINTED
    # initial edges, not the caller's frame, so the upstream pair query
    # is not re-executed.
    nodes = (
        e0.select(F.col("big").alias("node"))
        .unionByName(e0.select(F.col("small").alias("node")))
        .distinct()
    )
    return nodes.join(
        e.select(F.col("big").alias("node"), F.col("small").alias("component")),
        "node",
        "left",
    ).select("node", F.coalesce("component", "node").alias("component"))


def resolve_duplicates(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    keep: str = "min_id",
    quality_col: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """Full-corpus duplicate resolution: cluster near-dup ``pairs``
    transitively, then mark exactly one survivor per cluster.

    Returns one row per input document:
    ``(doc_id, cluster_id, cluster_size, keep)`` — unclustered docs
    are their own singleton cluster (size 1, kept).  ``keep`` policy:

    * ``"min_id"`` (default, deterministic): smallest id survives.
    * ``"best_quality"``: highest ``quality_col`` survives, id as the
      tiebreak (smallest id among maximal quality). NULL quality
      sorts below every non-null value (Spark struct ordering), so a
      null-quality doc wins only in an all-null cluster.

    The docs side is only touched by one left join on ``id_col`` —
    the expensive work is the pair graph, which is orders of magnitude
    smaller than the corpus (near-dup rate << 1 at web scale).
    """
    comp = connected_components(pairs, id_a, id_b, max_iter=max_iter)
    labeled = docs.join(
        comp.select(F.col("node").alias(id_col), "component"), id_col, "left"
    ).withColumn("cluster_id", F.coalesce("component", F.col(id_col)))
    sizes = labeled.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    if keep == "min_id":
        winner = labeled.groupBy("cluster_id").agg(
            F.min(id_col).alias("__winner")
        )
    elif keep == "best_quality":
        if quality_col is None:
            raise ValueError("keep='best_quality' requires quality_col")
        # Two small aggregates over the SAME shuffle key instead of the
        # old single struct-max with a negated id: negation required a
        # numeric id and failed analysis on string doc ids (ADVICE r3).
        # Pass 1: max quality per cluster (F.max skips NULLs, yielding
        # NULL only for an all-null cluster). Pass 2: min id among the
        # rows null-safe-equal to that max — any orderable id type.
        best = labeled.groupBy("cluster_id").agg(
            F.max(quality_col).alias("__best_q")
        )
        winner = (
            labeled.join(best, "cluster_id")
            .filter(F.col(quality_col).eqNullSafe(F.col("__best_q")))
            .groupBy("cluster_id")
            .agg(F.min(id_col).alias("__winner"))
        )
    else:
        raise ValueError(f"unknown keep policy {keep!r}")
    return (
        labeled.join(sizes, "cluster_id")
        .join(winner, "cluster_id")
        .select(
            F.col(id_col),
            "cluster_id",
            "cluster_size",
            (F.col(id_col) == F.col("__winner")).alias("keep"),
        )
    )
