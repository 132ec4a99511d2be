"""Connected-components + duplicate resolution (operators/cluster.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmquadtreepostgis_spark.operators.cluster import (
    connected_components,
    resolve_duplicates,
)

pytestmark = pytest.mark.usefixtures("spark")


def _uf_components(edges):
    """Reference union-find, pure python."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def _check(spark, edges):
    e = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["component"]
        for r in connected_components(e).collect()
    }
    assert got == _uf_components(edges)


def test_cc_long_chain_needs_log_rounds(spark):
    # a 200-node path: diameter 199 — plain min-propagation would need
    # ~200 rounds; the star alternation must converge inside the 25 cap
    _check(spark, [(i, i + 1) for i in range(200)])


def test_cc_random_graph_vs_union_find(spark):
    rng = np.random.RandomState(7)
    edges = set()
    # several sparse clumps + a few bridges + duplicate/reversed edges
    for base in (0, 1000, 2000):
        n = rng.randint(20, 60)
        for _ in range(n * 2):
            a, b = rng.randint(0, n, 2)
            if a != b:
                edges.add((base + a, base + b))
    edges |= {(55, 1005), (1005, 55), (1001, 2003)}
    _check(spark, sorted(edges))


def test_cc_star_and_singleton_edge(spark):
    # hub with many leaves (hot node) + an isolated 2-clique
    edges = [(100, i) for i in range(50)] + [(7777, 8888)]
    _check(spark, edges)


def test_resolve_min_id_and_sizes(spark):
    docs = spark.range(0, 10).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(0, 3), (3, 5), (7, 8)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: (r["cluster_id"], r["cluster_size"], r["keep"])
        for r in resolve_duplicates(docs, pairs).collect()
    }
    assert len(out) == 10
    assert out[0] == (0, 3, True)
    assert out[3] == (0, 3, False)
    assert out[5] == (0, 3, False)
    assert out[7] == (7, 2, True)
    assert out[8] == (7, 2, False)
    for d in (1, 2, 4, 6, 9):  # singletons keep themselves
        assert out[d] == (d, 1, True)


def test_resolve_best_quality(spark):
    docs = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.9), (4, 0.1)], "doc_id long, q double"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "id_a long, id_b long"
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in resolve_duplicates(
            docs, pairs, keep="best_quality", quality_col="q"
        ).collect()
    }
    # max quality 0.9 shared by 2 and 3 -> smallest id (2) survives
    assert out == {1: False, 2: True, 3: False, 4: False}


def test_resolve_best_quality_string_ids(spark):
    """best_quality must work for NON-numeric doc ids (ADVICE r3: the
    old struct-max negated the id, failing analysis on strings), and a
    null-quality doc wins only in an all-null cluster."""
    docs = spark.createDataFrame(
        [("a", 0.2), ("b", 0.9), ("c", 0.9), ("d", None),
         ("x", None), ("y", None)],
        "doc_id string, q double",
    )
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("x", "y")],
        "id_a string, id_b string",
    )
    out = {
        r["doc_id"]: r["keep"]
        for r in resolve_duplicates(
            docs, pairs, keep="best_quality", quality_col="q"
        ).collect()
    }
    # cluster {a,b,c,d}: max q 0.9 tied b/c -> min id 'b'
    # cluster {x,y}: all-null quality -> min id 'x'
    assert out == {
        "a": False, "b": True, "c": False, "d": False,
        "x": True, "y": False,
    }


def test_cc_durable_checkpoint_branch(spark, checkpoint_dir):
    """With a checkpoint dir set, the rounds cut lineage with durable
    checkpoints (the fault-tolerant cluster path)."""
    edges = [(i, i + 1) for i in range(30)] + [(100, 200)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in connected_components(e).collect()}
    assert got == _uf_components(edges)


def test_cc_unconverged_raises(spark):
    """A 40-node chain needs several star rounds; one round must raise
    rather than return an unconverged labelling."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=1)
