"""SparkSession factory with the engine's canonical configuration.

Mirrors the reference's tuning knobs (numchan worker threads,
micro-batch size — osmquadtreepostgis/__init__.py:465,
src/postgis_python.cpp:70-107) onto Spark's: core count, shuffle
partitions, Arrow batch size. AQE is always on (runtime re-plan +
skew-join splitting is our answer to the reference's hot-tile skew,
see SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_ARROW_BATCH = 1 << 14  # the reference's scan batch (processpostgis.cpp:143)


def get_spark(
    app: str = "osmquadtreepostgis_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS", "").strip()
        cores = int(env) if env else (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cores), 4)
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(DEFAULT_ARROW_BATCH)
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # a durable barrier's files go once its frame is garbage: each
        # connected-components round writes one, and a long-lived
        # session must not keep them all
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def fanout_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a narrow plan with fewer partitions than
    the session's parallelism; return any other frame (streaming, or
    holding an exchange) unchanged. Operators call it on the input of
    their heavy per-row work. It starts no job: a narrow plan is not
    AQE-wrapped, so building its RDD only lists the input splits."""
    if df.isStreaming:
        return df
    plan = df._jdf.queryExecution().executedPlan()
    if _has_exchange(plan):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if plan.execute().getNumPartitions() < target:
        return df.repartition(target)
    return df


def barrier(df: DataFrame) -> DataFrame:
    """Cut ``df``'s lineage by materializing it now. The cut is durable
    (``checkpoint``) when the context has a checkpoint dir set and
    executor-local (``localCheckpoint``) otherwise, so pointing
    ``sparkContext.setCheckpointDir`` at durable storage makes every
    barrier in the engine survive executor loss."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=True)
    return df.checkpoint(eager=True)


def _has_exchange(plan) -> bool:
    """Whether a physical plan, a cached relation's included, is AQE-wrapped
    or holds an exchange."""
    name = plan.getClass().getSimpleName()
    if name == "AdaptiveSparkPlanExec" or name.endswith("ExchangeExec"):
        return True
    kids = (s.apply(i) for s in (plan.children(), plan.innerChildren()) for i in range(s.size()))
    return any(_has_exchange(k) for k in kids)
