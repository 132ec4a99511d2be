"""Spark-facing geometry column functions over WKB binary columns.

The engine's equivalents of the reference's geometry ColumnSources
(/root/reference/src/postgiswriter.hpp:97-112) and GEOS calls
(src/validategeoms.cpp): Area (1-dp rounded,
src/postgiswriter.cpp:892-894, 1045-1047), topology simplify
(st_simplify(way, 612), osmquadtreepostgis/__init__.py:409), validity
flag and repair, bbox polygon construction.

All are Arrow-batched pandas UDFs over the numpy kernels in
:mod:`..geom` — geometry blobs are parsed per unique value per batch,
math is vectorized per coordinate array.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom as g

__all__ = [
    "wkb_area_udf",
    "wkb_simplify_udf",
    "wkb_is_valid_udf",
    "wkb_make_valid_udf",
    "bbox_to_wkb_udf",
]


def _for_each_wkb(way: pd.Series, fn):
    out = []
    for buf in way:
        if buf is None:
            out.append(None)
            continue
        gt, srid, payload = g.parse_wkb(bytes(buf))
        out.append(fn(gt, payload))
    return out


@F.pandas_udf(T.DoubleType())
def wkb_area_udf(way: pd.Series) -> pd.Series:
    """Polygon/multipolygon area (way_area), rounded 1dp."""

    def area(gt, payload):
        if gt == 3:
            polys = [payload]
        elif gt == 6:
            polys = payload
        else:
            return 0.0
        tot = 0.0
        for rings in polys:
            coords = np.vstack(rings)
            offs = np.cumsum([0] + [len(r) for r in rings])
            tot += g.polygon_area(coords, offs)
        return float(g.round1_half_away(tot))

    return pd.Series(_for_each_wkb(way, area), dtype="float64")


def wkb_simplify_udf(tolerance: float):
    """Douglas-Peucker simplify with tolerance in mercator metres —
    the lowzoom-table transform (st_simplify(way, 612))."""

    @F.pandas_udf(T.BinaryType())
    def _simp(way: pd.Series) -> pd.Series:
        def simp(gt, payload):
            if gt == 1:
                return g.wkb_point(payload[0], payload[1])  # points exempt
            if gt == 2:
                return g.wkb_linestring(g.simplify_dp(payload, tolerance))
            if gt == 3:
                return g.wkb_polygon(
                    [g.simplify_dp(r, tolerance) for r in payload]
                )
            if gt == 6:
                return g.wkb_multipolygon(
                    [[g.simplify_dp(r, tolerance) for r in rings] for rings in payload]
                )
            return None

        return pd.Series(_for_each_wkb(way, simp))

    return _simp


@F.pandas_udf(T.BooleanType())
def wkb_is_valid_udf(way: pd.Series) -> pd.Series:
    """Validity flag: all rings simple (the reference repairs with
    GEOS buffer(0); we normalize orientation on write and FLAG what we
    cannot repair, src/validategeoms.cpp:64-82)."""

    def valid(gt, payload):
        if gt == 3:
            rings = [payload]
        elif gt == 6:
            rings = payload
        else:
            return True
        for poly in rings:
            for r in poly:
                if len(r) > 400:  # O(n^2) guard: large rings assumed valid
                    continue
                if not g.ring_is_simple(r):
                    return False
        return True

    return pd.Series(_for_each_wkb(way, valid), dtype="boolean")


@F.pandas_udf(T.BinaryType())
def wkb_make_valid_udf(way: pd.Series) -> pd.Series:
    """Self-intersection repair (the GEOS buffer(0) step the reference
    applies to every polygon, src/validategeoms.cpp:64-82): each
    non-simple outer ring is untwisted into simple sub-rings
    (geom.repair_ring), holes follow the sub-ring that contains them,
    orientation is normalized, and the result is re-packed (a repaired
    bowtie becomes a 2-part multipolygon). Valid input passes through
    byte-identical; anything unrepairable returns NULL (callers
    quarantine it — the mperrorvec path)."""

    def mk(gt, payload):
        if gt == 3:
            polys = [payload]
        elif gt == 6:
            polys = payload
        else:
            return None  # only (multi)polygons are repaired

        all_valid = all(
            len(r) > 400 or g.ring_is_simple(r) for poly in polys for r in poly
        )
        out_polys = []
        for rings in polys:
            outer, holes = rings[0], rings[1:]
            if len(outer) <= 400 and not g.ring_is_simple(outer):
                pieces = g.repair_ring(outer)
                if pieces is None:
                    return None
            else:
                pieces = [outer]
            # holes must themselves be simple to keep
            for h in holes:
                if len(h) <= 400 and not g.ring_is_simple(h):
                    return None
            for piece in pieces:
                mine = [
                    h
                    for h in holes
                    if g.point_in_ring(
                        np.array([h[0][0]]), np.array([h[0][1]]), piece
                    )[0]
                ]
                out_polys.append(g.normalize_ring_orientation([piece] + mine))
        if not out_polys:
            return None
        if all_valid:
            # pass-through: keep the original bytes when nothing changed
            return g.wkb_polygon(polys[0]) if gt == 3 else g.wkb_multipolygon(polys)
        if len(out_polys) == 1 and gt == 3:
            return g.wkb_polygon(out_polys[0])
        return g.wkb_multipolygon(out_polys)

    return pd.Series(_for_each_wkb(way, mk))


def bbox_to_wkb_udf(round_2dp: bool = False):
    """lon/lat bbox -> EPSG:3857 polygon WKB (fixture/geometry
    construction, the F14 constructor path). ``round_2dp`` is the
    reference's round_geometry cm-grid mode
    (src/validategeoms.cpp:155-160)."""

    @F.pandas_udf(T.BinaryType())
    def _bb(
        minlon: pd.Series, minlat: pd.Series, maxlon: pd.Series, maxlat: pd.Series
    ) -> pd.Series:
        x0, y0 = g.merc_forward(minlon.to_numpy(), minlat.to_numpy(), round_2dp)
        x1, y1 = g.merc_forward(maxlon.to_numpy(), maxlat.to_numpy(), round_2dp)
        out = []
        for i in range(len(x0)):
            ring = np.array(
                [
                    [x0[i], y0[i]],
                    [x1[i], y0[i]],
                    [x1[i], y1[i]],
                    [x0[i], y1[i]],
                ]
            )
            out.append(g.wkb_polygon([ring]))
        return pd.Series(out)

    return _bb
