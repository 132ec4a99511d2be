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
* convergence is detected from an order-independent fingerprint
  ``(count, xor of edge hashes)`` of the canonical edge set, observed
  (``DataFrame.observe``) while the round's barrier materializes, so
  the check starts no job of its own.

A graph of at most :data:`DRIVER_EDGES` canonical edges skips the
rounds: its edges are collected through Arrow and labelled on the
driver by a numpy min-label pass (a few MB of int64 pairs), which
replaces ~8 Spark jobs per round with one collect.

At convergence the edge set is a forest of depth-1 stars rooted at
each component's minimum id, so the component label of every
non-root node is literally its single remaining neighbor.

Reference parity note: the reference has no multi-document dedup at
all (its unit is OSM objects, deduplicated by primary key on import —
osmquadtreepostgis/__init__.py table DDL); this operator family is
part of the BASELINE.json training-data mandate.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StringType, StructField, StructType

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


# Largest canonical edge set finished on the driver: 16 MB of int64
# pairs, collected once, against ~8 Spark jobs per star round.
DRIVER_EDGES = 1 << 20


def _cut(edges: DataFrame) -> tuple[DataFrame, tuple[int, int]]:
    """``barrier(edges)`` and the order-independent fingerprint of the
    edge set, observed while the barrier materializes (no extra job)."""
    obs = Observation()
    e = barrier(
        edges.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-independent and cannot overflow under ANSI
            # (a plain sum of int64 hashes does); count guards the xor's
            # pair-cancellation blind spot
            F.coalesce(F.expr("bit_xor(xxhash64(big, small))"), F.lit(0)).alias("h"),
        )
    )
    return e, (int(obs.get["n"]), int(obs.get["h"]))


def _min_labels(b: np.ndarray, s: np.ndarray, n: int) -> np.ndarray:
    """Per node position ``0..n-1``, the smallest position in its
    component of the graph with edges ``(b[i], s[i])``. Each pass points
    every node at its tree's root, then hooks the larger root of each
    edge joining two trees to the smallest root it meets; pointers only
    decrease, so the loop ends, and then each root is its component's
    minimum."""
    f = np.arange(n)
    while True:
        while True:
            ff = f[f]
            if np.array_equal(ff, f):
                break
            f = ff
        fb, fs = f[b], f[s]
        hi, lo = np.maximum(fb, fs), np.minimum(fb, fs)
        join = hi != lo
        if not join.any():
            return f
        np.minimum.at(f, hi[join], lo[join])


def _driver_components(e: DataFrame, dtype) -> DataFrame:
    """(node, component) of the canonical edge frame ``e`` with ids of
    Spark type ``dtype``, labelled on the driver. Ids map to positions
    in Arrow's sort order, which is Spark's for integers and
    binary-collated strings, so the smallest position is the smallest
    id."""
    t = e.toArrow()
    both = pa.concat_arrays(
        [t.column("big").combine_chunks(), t.column("small").combine_chunks()]
    )
    ids = pc.unique(both)
    ids = ids.take(pc.sort_indices(ids))
    pos = pc.index_in(both, value_set=ids).to_numpy()
    f = _min_labels(pos[: t.num_rows], pos[t.num_rows :], len(ids))
    return e.sparkSession.createDataFrame(
        pa.table({"node": ids, "component": ids.take(pa.array(f))}),
        StructType([StructField("node", dtype), StructField("component", dtype)]),
    )


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
    so a silent wrong answer is impossible.  A graph of at most
    :data:`DRIVER_EDGES` canonical edges over integer or string ids
    runs no rounds: it is labelled on the driver, which runs to a
    fixpoint and so cannot return unconverged.

    Fixed-cost note: the initial cut and each round cost one barrier;
    the convergence fingerprint is observed while it materializes, so
    checking every round is free.  Checkpoints happen every round:
    lineage must not compound across rounds or Catalyst re-analyzes a
    growing tree.
    """
    # every later read — node set included — comes off this
    # materialized frame, so the (possibly expensive) upstream pair
    # query runs exactly once
    e, fp = _cut(_canon(edges, id_a, id_b))
    dtype = e.schema["big"].dataType
    if fp[0] <= DRIVER_EDGES and (
        isinstance(dtype, IntegralType) or dtype == StringType()
    ):
        return _driver_components(e, dtype)
    e0 = e

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
        # (measured with the every-round fingerprint: 10.1 s ->
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
        e, nfp = _cut(
            large.join(smins, "big")
            .select(F.col("small").alias("x"), "m")
            .unionByName(smins.select(F.col("big").alias("x"), "m"))
            .filter(F.col("x") != F.col("m"))
            .select(F.col("x").alias("big"), F.col("m").alias("small"))
            .distinct()
        )
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
