"""Checkpoint / resume with per-partition lineage + row-count metrics.

The reference runs its entire 6-hour load inside ONE PostgreSQL
transaction (/root/reference/src/postgiswriter.cpp:1256, 1208-1214) —
no resumability. BASELINE.json mandates the opposite at 100 TB:
idempotent per-bucket writes plus a lineage table so a killed job
resumes mid-run.

Design (Iceberg-snapshot analog on plain parquet):
* work is bucketed by a deterministic key (``pmod(tile, n_buckets)``
  — stable across runs and cluster sizes);
* each bucket's output goes to ``data/__bucket=K/`` via dynamic
  partition overwrite (re-running a bucket replaces, never dupes);
* after a successful write the bucket's lineage row
  (bucket, rows, batch_id) is appended to ``_lineage/``;
* resume = anti-join pending buckets against completed lineage.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = ["CheckpointedWriter"]


class CheckpointedWriter:
    def __init__(self, out_dir: str, n_buckets: int = 64, bucket_key: str = "tile"):
        self.out_dir = out_dir.rstrip("/")
        self.n_buckets = n_buckets
        self.bucket_key = bucket_key
        self.data_dir = f"{self.out_dir}/data"
        self.lineage_dir = f"{self.out_dir}/_lineage"
        self.errors_dir = f"{self.out_dir}/_errors"

    def _quarantine(
        self, df: DataFrame, geom_col: str, repair: bool = True
    ) -> DataFrame:
        """Repair-then-quarantine, the reference's exact sequence
        (validategeoms.cpp:64-82 buffer(0) repair inside the writer;
        unfixable rows surface through mperrorvec,
        src/processpostgis.cpp:121,140-141 — never silently loaded).
        With ``repair``, non-simple polygons are first untwisted by
        wkb_make_valid_udf; rows it cannot fix land in ``_errors/``
        with a reason code. The returned frame carries only valid
        geometry."""
        from ..functions.geometry import wkb_is_valid_udf, wkb_make_valid_udf

        flagged = df.withColumn("__valid", wkb_is_valid_udf(F.col(geom_col)))
        if repair:
            flagged = flagged.withColumn(
                geom_col,
                F.when(F.col("__valid"), F.col(geom_col)).otherwise(
                    wkb_make_valid_udf(F.col(geom_col))
                ),
            )
            good = F.col(geom_col).isNotNull()
            reason = F.lit("invalid_geometry_unrepairable")
        else:
            good = F.col("__valid")
            reason = F.lit("invalid_geometry")
        errors = (
            flagged.filter(~good).drop("__valid").withColumn("reason", reason)
        )
        errors.write.mode("append").parquet(self.errors_dir)
        return flagged.filter(good).drop("__valid")

    def errors(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.errors_dir)

    def _bucket(self, df: DataFrame) -> DataFrame:
        # xxhash64, not pmod(key, n): quadtree tile keys carry the
        # depth in their LOW bits, so pmod over same-depth tiles is
        # constant (everything in one bucket). xxhash64 is stable
        # across runs/sessions -> deterministic resume.
        return df.withColumn(
            "__bucket",
            F.pmod(F.xxhash64(F.col(self.bucket_key)), F.lit(self.n_buckets)),
        )

    def completed_buckets(self, spark: SparkSession) -> list[int]:
        try:
            lin = spark.read.parquet(self.lineage_dir)
        except Exception:
            return []
        return [r["bucket"] for r in lin.select("bucket").distinct().collect()]

    def lineage(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.lineage_dir)

    def write(
        self,
        df: DataFrame,
        resume: bool = True,
        validate_geom_col: str | None = None,
        repair: bool = True,
    ) -> dict:
        """Write df bucketed + lineage; skips completed buckets when
        resuming. With ``validate_geom_col`` set, invalid geometries
        are repaired (buffer(0) analog) and the unrepairable rows
        quarantined to the error table (mperrorvec analog).
        Returns {written_buckets, skipped_buckets, rows}."""
        spark = df.sparkSession
        if validate_geom_col is not None:
            df = self._quarantine(df, validate_geom_col, repair=repair)
        b = self._bucket(df)
        done = set(self.completed_buckets(spark)) if resume else set()
        if done:
            b = b.filter(~F.col("__bucket").isin(sorted(done)))
        # per-bucket row counts (the lineage metrics) — one extra agg
        # over the (cached) pending work
        b = b.cache()
        counts = (
            b.groupBy("__bucket").agg(F.count(F.lit(1)).alias("rows")).collect()
        )
        if not counts:
            b.unpersist()
            return {"written_buckets": 0, "skipped_buckets": len(done), "rows": 0}
        # one wave of write tasks: AQE sizes a bare repartition("__bucket")
        # by bytes and coalesces it into ONE task that writes every bucket
        # file in turn (4 vCPUs, 70 rows into 64 bucket dirs: 1 task
        # 696 ms, 4 tasks 387 ms, 64 tasks 1091 ms); hashing on __bucket
        # still sends each bucket to one task, so one file per bucket
        n_tasks = min(len(counts), spark.sparkContext.defaultParallelism)
        (
            b.repartition(n_tasks, "__bucket")
            .write.mode("overwrite")
            # per-write dynamic overwrite (replace only touched buckets);
            # scoped here so the session-wide overwrite semantics of
            # later writers are untouched
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__bucket")
            .parquet(self.data_dir)
        )
        batch_id = int(time.time() * 1000)
        lineage_rows = [
            (int(r["__bucket"]), int(r["rows"]), batch_id) for r in counts
        ]
        # Arrow/pandas path: lands in one partition for batch-sized
        # inputs without coalesce(1) — a coalesce over a 32-slice
        # parallelize pays ~4 s of scheduler locality wait per write
        # (same pathology fixed in urls.psl_frame, r6)
        import pandas as pd

        spark.createDataFrame(
            pd.DataFrame(
                lineage_rows, columns=["bucket", "rows", "batch_id"]
            ),
            "bucket long, rows long, batch_id long",
        ).write.mode("append").parquet(self.lineage_dir)
        b.unpersist()
        return {
            "written_buckets": len(counts),
            "skipped_buckets": len(done),
            "rows": int(sum(r["rows"] for r in counts)),
        }

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.data_dir).drop("__bucket")
