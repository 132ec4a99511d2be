"""Spark-facing cell-index functions.

Two tiers, chosen by what the math needs:

* **pure-Column (JVM, codegen'd)**: anything that is integer bit math
  on an existing key — ``cell_parent_col``, ``cell_depth_col``. These
  stay inside whole-stage codegen; no Python on the hot path.
  ``cell_encode_col`` is the generated-SQL point encode, for plans
  that must not add a Python stage.
* **Arrow-batched pandas UDFs**: the trig-bearing encode steps
  (``cell_encode_udf``, ``cell_cover_udf``) — the BASELINE-mandated
  "batched H3/S2 cell encoding in pandas/Arrow UDFs". numpy kernels
  from :mod:`..quadtree`, no per-row Python.

The reference's equivalents: ObjectQuadtree / BlockQuadtree column
sources (/root/reference/src/postgiswriter.cpp:417-420) and the locs
tile set used for scan pruning (src/processpostgis.cpp:143).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import quadtree as qt

__all__ = [
    "cell_encode_udf",
    "cell_cover_udf",
    "cell_neighbors_udf",
    "cell_parent_col",
    "cell_tile_col",
    "cell_depth_col",
    "cell_encode_col",
]


def cell_encode_udf(depth: int):
    """pandas UDF: (lon, lat) -> int64 cell key at ``depth``."""

    @F.pandas_udf(T.LongType())
    def _encode(lon: pd.Series, lat: pd.Series) -> pd.Series:
        k = qt.point_to_cell(lon.to_numpy(np.float64), lat.to_numpy(np.float64), depth)
        return pd.Series(k)

    return _encode


def cell_cover_udf(depth: int):
    """pandas UDF: bbox -> array<long> of covering cells at ``depth``."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _cover(
        minlon: pd.Series, minlat: pd.Series, maxlon: pd.Series, maxlat: pd.Series
    ) -> pd.Series:
        covers = qt.cell_cover(
            minlon.to_numpy(np.float64),
            minlat.to_numpy(np.float64),
            maxlon.to_numpy(np.float64),
            maxlat.to_numpy(np.float64),
            depth,
        )
        return pd.Series([c.tolist() for c in covers])

    return _cover


def cell_neighbors_udf(include_self: bool = True):
    """pandas UDF: cell key -> array<long> of same-depth neighbors."""

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def _nb(key: pd.Series) -> pd.Series:
        nb = qt.cell_neighbors(key.to_numpy(np.int64), include_self=include_self)
        # dedupe per row (edge clipping repeats cells)
        return pd.Series([np.unique(row).tolist() for row in nb])

    return _nb


def cell_parent_col(key, depth: int) -> Column:
    """Ancestor cell at ``depth`` as a pure JVM Column (bit math only,
    stays in whole-stage codegen — this is the reference's tile =
    BlockQuadtree derivation, src/postgiswriter.cpp:419-420)."""
    c = F.col(key) if isinstance(key, str) else key
    keep = 2 * qt.MAX_DEPTH - 2 * depth
    aligned = F.shiftright(c, qt.DEPTH_BITS)
    parent = F.shiftleft(F.shiftright(aligned, keep), keep + qt.DEPTH_BITS)
    return parent.bitwiseOR(F.lit(depth))


def cell_tile_col(key, depth: int) -> Column:
    """Depth-guarded tile: ancestor at ``min(depth, cell_depth(key))``
    — the Column twin of :func:`..quadtree.cell_tile`. A block key can
    never be deeper than the object key it contains, so cells shallower
    than ``depth`` (large objects from ``bbox_to_cell``) label their own
    key; ``cell_parent(k, cell_depth(k)) == k`` makes that exact."""
    c = F.col(key) if isinstance(key, str) else key
    return F.when(
        cell_depth_col(c) >= F.lit(depth), cell_parent_col(c, depth)
    ).otherwise(c)


def cell_depth_col(key) -> Column:
    c = F.col(key) if isinstance(key, str) else key
    return c.bitwiseAND(F.lit((1 << qt.DEPTH_BITS) - 1))


def cell_encode_col(lon_expr: str, lat_expr: str, depth: int) -> Column:
    """PURE-CATALYST point->cell encode: the JVM twin of
    :func:`cell_encode_udf` (same packing, same clamps — property-
    tested against the numpy kernel in tests/test_sql_surface.py via
    the identical st_point_to_cell body). Use this when the encode
    should NOT ride a Python stage. The generated expression is large
    (trig + magic-mask spread), so every plan that contains it pays
    for analysis and codegen of it; when a plan already has a Python
    stage over the points, encoding there is cheaper. Takes SQL
    expression strings (column names or exprs), returns a codegen'd
    bigint Column."""
    return F.expr(qt.sql_point_to_cell(lon_expr, lat_expr, depth))
