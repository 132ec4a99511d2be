"""The scan fan-out rule (``session.fanout_small_scan``): it decides from
the plan alone and starts no Spark job. Only a narrow plan with fewer
partitions than the session's parallelism gains a round-robin
exchange; a frame with enough partitions, a plan that already holds an
exchange, and a streaming frame come back unchanged."""

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osmquadtreepostgis_spark.session import fanout_small_scan


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _single_split_scan(spark, tmp_path):
    """A one-row-group parquet file: one split, whatever its size."""
    path = str(tmp_path / "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": list(range(200)), "text": ["a b c"] * 200}), path
    )
    return spark.read.parquet(path)


def _new_jobs(spark, group, fn):
    """(fn(), ids of the Spark jobs fn started), read from the status
    store by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_single_split_scan_gains_one_round_robin_exchange(spark, tmp_path):
    assert spark.sparkContext.defaultParallelism == 8
    df = _single_split_scan(spark, tmp_path)
    out, jobs = _new_jobs(spark, "fanout-scan", lambda: fanout_small_scan(df))
    assert "RoundRobinPartitioning" not in _plan(df)
    assert _plan(out).count("RoundRobinPartitioning(8)") == 1
    assert jobs == []
    assert sorted(r.doc_id for r in out.collect()) == list(range(200))


def test_enough_partitions_unchanged(spark):
    df = spark.range(0, 800, 1, 8)
    assert fanout_small_scan(df) is df


def test_exchange_plans_unchanged_without_a_job(spark, tmp_path):
    """Counting the partitions of these plans with ``df.rdd`` runs the
    shuffle and broadcast stages; the rule must not."""
    scan = _single_split_scan(spark, tmp_path)
    grouped = scan.groupBy((F.col("doc_id") % 7).alias("k")).count()
    small = spark.createDataFrame([(i, i * i) for i in range(10)], ["doc_id", "sq"])
    joined = scan.join(F.broadcast(small), "doc_id")
    cached = grouped.select("k").cache()
    try:
        frames = [grouped, joined, cached]
        outs, jobs = _new_jobs(
            spark, "fanout-exchange", lambda: [fanout_small_scan(d) for d in frames]
        )
    finally:
        cached.unpersist()
    assert jobs == []
    assert all(o is d for o, d in zip(outs, frames))


def test_streaming_frame_unchanged(spark):
    df = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    assert fanout_small_scan(df) is df
