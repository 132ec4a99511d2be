"""Connected-components + duplicate resolution (operators/cluster.py)."""

import gc
import os
import time

import numpy as np
import pytest
from pyspark.sql import functions as F
from test_fanout_rule import _new_jobs

from osmquadtreepostgis_spark.operators import cluster
from osmquadtreepostgis_spark.operators.cluster import (
    connected_components,
    resolve_duplicates,
)

pytestmark = pytest.mark.usefixtures("spark")

# DRIVER_EDGES values that force each path: the star rounds, the driver finish
STAR, DRIVER = 0, 1 << 30


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


def _both_paths(monkeypatch, e):
    """connected_components(e) rows under the star rounds and under the
    driver finish; the two must be identical."""
    got = []
    for limit in (STAR, DRIVER):
        monkeypatch.setattr(cluster, "DRIVER_EDGES", limit)
        got.append(sorted(tuple(r) for r in connected_components(e).collect()))
    assert got[0] == got[1]
    return dict(got[0])


def _check(spark, monkeypatch, edges, ddl="id_a long, id_b long"):
    e = spark.createDataFrame(list(edges), ddl)
    assert _both_paths(monkeypatch, e) == _uf_components(edges)


def test_cc_long_chain_needs_log_rounds(spark, monkeypatch):
    # a 200-node path: diameter 199 — plain min-propagation would need
    # ~200 rounds; the star alternation must converge inside the 25 cap
    _check(spark, monkeypatch, [(i, i + 1) for i in range(200)])


def test_cc_random_graph_vs_union_find(spark, monkeypatch):
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
    _check(spark, monkeypatch, [(int(a), int(b)) for a, b in sorted(edges)])


def test_cc_star_and_singleton_edge(spark, monkeypatch):
    # hub with many leaves (hot node) + an isolated 2-clique
    edges = [(100, i) for i in range(50)] + [(7777, 8888)]
    _check(spark, monkeypatch, edges)


def test_cc_empty_and_self_loop_edges(spark, monkeypatch):
    _check(spark, monkeypatch, [])
    e = spark.createDataFrame([(3, 3), (4, 4)], "id_a long, id_b long")
    assert _both_paths(monkeypatch, e) == {}


def test_cc_string_ids(spark, monkeypatch):
    """String ids label by Spark's string order, where "b10" < "b9"
    and upper case sorts before lower case."""
    edges = [("b9", "b10"), ("b10", "a"), ("Z", "c"), ("c", "é"), ("x", "y")]
    _check(spark, monkeypatch, edges, "id_a string, id_b string")


@pytest.mark.parametrize("limit, jobs", [(STAR, 48), (DRIVER, 3)])
def test_cc_job_count(spark, monkeypatch, limit, jobs):
    """Spark jobs of one call and its collect on a 31-edge graph: the
    star path pays its rounds; the driver finish pays the initial cut
    and one collect, and its result is local."""
    monkeypatch.setattr(cluster, "DRIVER_EDGES", limit)
    edges = [(i, i + 1) for i in range(30)] + [(100, 200)]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    rows, ids = _new_jobs(
        spark, f"cc-jobs-{limit}", lambda: connected_components(e).collect()
    )
    assert {r["node"]: r["component"] for r in rows} == _uf_components(edges)
    assert len(ids) == jobs


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


def test_cc_durable_checkpoint_branch(spark, checkpoint_dir, monkeypatch):
    """With a checkpoint dir set, the rounds cut lineage with durable
    checkpoints (the fault-tolerant cluster path)."""
    _check(spark, monkeypatch, [(i, i + 1) for i in range(30)] + [(100, 200)])


def _rdd_dirs(root):
    """The reliable-checkpoint RDD dirs under a checkpoint dir."""
    return {
        os.path.join(dp, n) for dp, dns, _ in os.walk(root) for n in dns if n.startswith("rdd-")
    }


def test_cc_durable_checkpoints_are_cleaned(spark, checkpoint_dir, monkeypatch):
    """The session cleans a durable barrier's files once its frame is
    garbage: the star rounds of a finished call leave nothing behind."""
    monkeypatch.setattr(cluster, "DRIVER_EDGES", STAR)
    e = spark.createDataFrame([(i, i + 1) for i in range(30)], "id_a long, id_b long")
    out = connected_components(e)
    assert out.count() == 31
    first = _rdd_dirs(checkpoint_dir)
    assert len(first) > 2
    out = connected_components(e)
    assert out.count() == 31
    del out
    gc.collect()
    jvm = spark.sparkContext._jvm
    deadline = time.monotonic() + 10
    while first & _rdd_dirs(checkpoint_dir) and time.monotonic() < deadline:
        jvm.System.gc()
        time.sleep(0.5)
    assert not first & _rdd_dirs(checkpoint_dir)


def test_cc_unconverged_raises(spark, monkeypatch):
    """A 40-node chain needs several star rounds; one round must raise
    rather than return an unconverged labelling."""
    monkeypatch.setattr(cluster, "DRIVER_EDGES", STAR)
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(39)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(e, max_iter=1)
