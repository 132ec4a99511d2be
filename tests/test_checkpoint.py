"""Checkpoint/lineage writer: idempotent resume, per-bucket metrics."""

import shutil

import pytest
from pyspark.sql import functions as F

from osmquadtreepostgis_spark.plans.checkpoint import CheckpointedWriter


@pytest.fixture()
def out_dir(tmp_path):
    d = str(tmp_path / "ckpt")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mk(spark, n=1000):
    return spark.range(n).select(
        F.col("id").alias("tile"), (F.col("id") * 2).alias("v")
    )


def test_write_then_resume_skips_completed(spark, out_dir):
    df = _mk(spark)
    w = CheckpointedWriter(out_dir, n_buckets=8)
    r1 = w.write(df)
    assert r1["written_buckets"] == 8 and r1["rows"] == 1000
    # resume: everything already done
    r2 = w.write(df)
    assert r2["written_buckets"] == 0 and r2["skipped_buckets"] == 8
    assert w.read(spark).count() == 1000


def test_partial_failure_resume(spark, out_dir):
    df = _mk(spark)
    w = CheckpointedWriter(out_dir, n_buckets=8)
    # simulate a killed run: only buckets 0-3 completed
    part = df.filter(F.pmod(F.xxhash64(F.col("tile")), F.lit(8)) < 4)
    w.write(part)
    assert sorted(w.completed_buckets(spark)) == [0, 1, 2, 3]
    r = w.write(df)  # resume with the full input
    assert r["skipped_buckets"] == 4 and r["written_buckets"] == 4
    out = w.read(spark)
    assert out.count() == 1000
    assert out.select(F.sum("v")).first()[0] == sum(2 * i for i in range(1000))
    # lineage metrics: one row per bucket with counts
    lin = w.lineage(spark).toPandas()
    assert lin["rows"].sum() == 1000
    assert set(lin["bucket"]) == set(range(8))


def test_rewrite_is_idempotent_not_duplicating(spark, out_dir):
    df = _mk(spark)
    w = CheckpointedWriter(out_dir, n_buckets=4)
    w.write(df, resume=False)
    w.write(df, resume=False)  # full rerun overwrites, never dupes
    assert w.read(spark).count() == 1000


def test_each_bucket_written_as_one_file(spark, out_dir):
    """The bucket write runs as several tasks, but hashing on the
    bucket key sends each bucket to exactly one of them."""
    from pathlib import Path

    w = CheckpointedWriter(out_dir, n_buckets=64)
    assert w.write(_mk(spark).repartition(8))["written_buckets"] == 64
    dirs = sorted(Path(w.data_dir).glob("__bucket=*"))
    assert len(dirs) == 64
    for d in dirs:
        assert len(list(d.glob("*.parquet"))) == 1, d.name


def test_flagship_checkpointed_resume(spark, tmp_path):
    """End-to-end resumable flagship: partial run -> resume -> output
    equals the direct pipeline result."""
    from pyspark.sql import functions as F

    from osmquadtreepostgis_spark.plans.checkpoint import CheckpointedWriter
    from osmquadtreepostgis_spark.plans.pipeline import (
        pages_pipeline,
        run_pages_checkpointed,
    )
    from osmquadtreepostgis_spark.sources.pages import pages

    out = str(tmp_path / "flag")
    p = pages(spark, 2000, partitions=4)
    # simulate a killed run: write only buckets 0-7 of 16
    tiles = pages_pipeline(p)
    w = CheckpointedWriter(out, n_buckets=16, bucket_key="tile")
    w.write(tiles.filter(F.pmod(F.xxhash64(F.col("tile")), F.lit(16)) < 8))
    done_before = set(w.completed_buckets(spark))
    assert done_before and done_before <= set(range(8))
    assert len(done_before) > 1  # buckets actually spread (hash, not pmod)
    # resume the real job
    stats = run_pages_checkpointed(p, out, n_buckets=16, resume=True)
    assert stats["skipped_buckets"] == len(done_before)
    got = (
        w.read(spark)
        .select("tile", "poly_id", "n_mentions")
        .toPandas()
        .sort_values(["tile", "poly_id"], ignore_index=True)
    )
    want = (
        pages_pipeline(p)
        .select("tile", "poly_id", "n_mentions")
        .toPandas()
        .sort_values(["tile", "poly_id"], ignore_index=True)
    )
    import pandas as pd

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_invalid_geometry_quarantined(spark, tmp_path):
    """Flag-only mode: a bowtie polygon lands in the error table with a
    reason code; only valid rows reach the data dir (the reference's
    mperrorvec, src/processpostgis.cpp:121,140-141)."""
    import numpy as np

    from osmquadtreepostgis_spark import geom as g

    square = g.wkb_polygon(
        [np.array([[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]], float)]
    )
    bowtie = g.wkb_polygon(
        [np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], float)]
    )
    df = spark.createDataFrame(
        [(1, 100, bytearray(square)), (2, 200, bytearray(bowtie))],
        "osm_id long, tile long, way binary",
    )
    w = CheckpointedWriter(str(tmp_path / "q"), n_buckets=4)
    res = w.write(df, validate_geom_col="way", repair=False)
    assert res["rows"] == 1
    errs = w.errors(spark).collect()
    assert len(errs) == 1
    assert errs[0]["osm_id"] == 2
    assert errs[0]["reason"] == "invalid_geometry"
    kept = w.read(spark).collect()
    assert [r["osm_id"] for r in kept] == [1]


def test_invalid_geometry_repaired_or_quarantined(spark, tmp_path):
    """Repair mode (default, the buffer(0) analog): the bowtie is
    untwisted into a 2-part multipolygon with the same total area and
    kept; a polygon with a non-simple HOLE is unrepairable and goes to
    the error table."""
    import numpy as np

    from osmquadtreepostgis_spark import geom as g

    bowtie = g.wkb_polygon(
        [np.array([[0, 0], [10, 10], [10, 0], [0, 10], [0, 0]], float)]
    )
    bad_hole = g.wkb_polygon(
        [
            np.array([[0, 0], [100, 0], [100, 100], [0, 100], [0, 0]], float),
            np.array([[10, 10], [30, 30], [30, 10], [10, 30], [10, 10]], float),
        ]
    )
    df = spark.createDataFrame(
        [(1, 100, bytearray(bowtie)), (2, 200, bytearray(bad_hole))],
        "osm_id long, tile long, way binary",
    )
    w = CheckpointedWriter(str(tmp_path / "r"), n_buckets=4)
    res = w.write(df, validate_geom_col="way")
    assert res["rows"] == 1
    errs = w.errors(spark).collect()
    assert [(e["osm_id"], e["reason"]) for e in errs] == [
        (2, "invalid_geometry_unrepairable")
    ]
    kept = w.read(spark).collect()
    assert [r["osm_id"] for r in kept] == [1]
    gt, srid, polys = g.parse_wkb(bytes(kept[0]["way"]))
    assert gt == 6 and len(polys) == 2  # bowtie -> 2-part multipolygon
    total = sum(
        g.polygon_area(np.vstack(rings), np.cumsum([0] + [len(r) for r in rings]))
        for rings in polys
    )
    # bowtie "area": two 25-unit triangles
    assert abs(total - 50.0) < 1e-6
    # repaired parts are themselves valid
    from osmquadtreepostgis_spark.functions.geometry import wkb_is_valid_udf

    ok = (
        spark.createDataFrame([(bytearray(kept[0]["way"]),)], "way binary")
        .select(wkb_is_valid_udf("way").alias("v"))
        .collect()[0]["v"]
    )
    assert ok
