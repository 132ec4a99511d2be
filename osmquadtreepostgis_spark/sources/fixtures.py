"""Deterministic polygon layer (FIXTURES.md §3) for PIP / overlay joins.

Mirrors the reference's polygon/boundary/building query tables
(/root/reference/osmquadtreepostgis/__init__.py:87-128): ``poly_id``
negative for multipolygon/relation-derived rows
(src/postgiswriter.cpp:525), ``way`` as EPSG:3857 EWKB, ``way_area``
rounded to 1dp (src/postgiswriter.cpp:943), ``quadtree``/``tile``
64-bit cell keys.

Two tiers:
* axis-aligned boxes (``box_records``) — every oracle-checked PIP
  query uses these, because point-in-box is expressible as range
  predicates in ANSI SQL (half-open: lon in [xmin, xmax), lat in
  [ymin, ymax), matching geom.point_in_ring's frozen convention);
* complex polygons (``complex_polygons``) — concave / holed shapes
  exercised by pytest property tests against brute force.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .. import geom as g
from .. import quadtree as qt
from .gazetteer import CITY_GAZETTEER

__all__ = [
    "box_records",
    "complex_polygons",
    "polygon_rows",
    "polygons_df",
    "sql_box_values",
]


def box_records() -> list[dict]:
    """Deterministic axis-aligned polygon records.

    * 72 grid boxes: 12 x 6 tiling of lon [-180, 180) x lat [-84, 84)
      (every synthesized point with |lat| < 84 falls in exactly one);
    * 20 hotspot boxes (6 x 6 degrees) centred on the first 20
      gazetteer cities — overlapping the grid, creating multi-match
      rows and hot cells (the reference's dense-urban-tile skew);
    * 4 of the hotspots get negative ids = multipolygon-derived
      (reference semantics, src/postgiswriter.cpp:525).
    """
    recs = []
    for r in range(6):
        for c in range(12):
            xmin = -180.0 + 30.0 * c
            ymin = -84.0 + 28.0 * r
            recs.append(
                {
                    "poly_id": 1000 + r * 12 + c,
                    "name": f"grid_{r}_{c}",
                    "kind": "grid",
                    "xmin": xmin,
                    "ymin": ymin,
                    "xmax": xmin + 30.0,
                    "ymax": ymin + 28.0,
                    "admin_level": 2 + (r * 12 + c) % 9,
                }
            )
    cities = sorted(CITY_GAZETTEER)[:20]
    for i, city in enumerate(cities):
        lon, lat = CITY_GAZETTEER[city]
        xmin = max(min(lon - 3.0, 174.0), -180.0)
        ymin = max(min(lat - 3.0, 78.0), -84.0)
        pid = 2001 + i
        if i % 5 == 4:
            pid = -pid  # multipolygon-derived
        recs.append(
            {
                "poly_id": pid,
                "name": f"hotspot_{city}",
                "kind": "hotspot",
                "xmin": xmin,
                "ymin": ymin,
                "xmax": xmin + 6.0,
                "ymax": ymin + 6.0,
                "admin_level": 4 + i % 7,
            }
        )
    return recs


def complex_polygons() -> list[dict]:
    """Concave / holed mercator-space polygons for pytest brute-force
    verification of the generic PIP path (not oracle-SQL-expressible)."""
    out = []
    # L-shape around Western Europe (lon/lat ring)
    L = np.array(
        [[-10, 35], [20, 35], [20, 45], [5, 45], [5, 60], [-10, 60]], dtype=float
    )
    out.append({"poly_id": 9001, "name": "L_europe", "rings": [L]})
    # donut around the Sahara
    outer = np.array([[-15, 10], [35, 10], [35, 30], [-15, 30]], dtype=float)
    hole = np.array([[0, 15], [20, 15], [20, 25], [0, 25]], dtype=float)
    out.append({"poly_id": 9002, "name": "donut_sahara", "rings": [outer, hole]})
    # concave chevron over South America
    ch = np.array(
        [[-80, -40], [-60, -20], [-40, -40], [-50, -40], [-60, -30], [-70, -40]],
        dtype=float,
    )
    out.append({"poly_id": -9003, "name": "chevron_sa", "rings": [ch]})
    return out


_POLY_SCHEMA = T.StructType(
    [
        T.StructField("poly_id", T.LongType(), False),
        T.StructField("name", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("xmin", T.DoubleType(), False),
        T.StructField("ymin", T.DoubleType(), False),
        T.StructField("xmax", T.DoubleType(), False),
        T.StructField("ymax", T.DoubleType(), False),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), False),
        T.StructField("way", T.BinaryType(), False),
        T.StructField("way_area", T.DoubleType(), False),
        T.StructField("quadtree", T.LongType(), False),
        T.StructField("tile", T.LongType(), False),
    ]
)


def polygons_df(
    spark: SparkSession, include_complex: bool = False, tile_depth: int = 6
) -> DataFrame:
    """The polygon layer as a DataFrame with reference row shape."""
    pdf = pd.DataFrame(polygon_rows(include_complex, tile_depth))
    return spark.createDataFrame(pdf, schema=_POLY_SCHEMA)


def polygon_rows(include_complex: bool = False, tile_depth: int = 6) -> list[dict]:
    """The rows of :func:`polygons_df`, built on the driver without
    Spark."""
    rows = []
    for r in box_records():
        ring_ll = np.array(
            [
                [r["xmin"], r["ymin"]],
                [r["xmax"], r["ymin"]],
                [r["xmax"], r["ymax"]],
                [r["xmin"], r["ymax"]],
            ]
        )
        rows.append(_poly_row(r, [ring_ll], tile_depth))
    if include_complex:
        for r in complex_polygons():
            rec = {
                "poly_id": r["poly_id"],
                "name": r["name"],
                "kind": "complex",
                "xmin": float(min(rr[:, 0].min() for rr in r["rings"])),
                "ymin": float(min(rr[:, 1].min() for rr in r["rings"])),
                "xmax": float(max(rr[:, 0].max() for rr in r["rings"])),
                "ymax": float(max(rr[:, 1].max() for rr in r["rings"])),
                "admin_level": 2,
            }
            rows.append(_poly_row(rec, r["rings"], tile_depth))
    return rows


def _poly_row(rec: dict, rings_lonlat: list[np.ndarray], tile_depth: int) -> dict:
    rings_merc = []
    for ring in rings_lonlat:
        x, y = g.merc_forward(ring[:, 0], ring[:, 1])
        rings_merc.append(np.c_[x, y])
    rings_merc = g.normalize_ring_orientation(rings_merc)
    area = 0.0
    for i, rm in enumerate(rings_merc):
        off = np.array([0, len(rm)])
        a = abs(float(g.ring_area(rm, off)[0]))
        area += a if i == 0 else -a
    cell = qt.bbox_to_cell(
        np.array([rec["xmin"]]),
        np.array([rec["ymin"]]),
        np.array([rec["xmax"]]),
        np.array([rec["ymax"]]),
        qt.MAX_DEPTH,
    )[0]
    tags = {"boundary": "administrative", "admin_level": str(rec["admin_level"])}
    if rec.get("kind") == "hotspot":
        tags["name"] = rec["name"]
    return {
        "poly_id": int(rec["poly_id"]),
        "name": rec["name"],
        "kind": rec.get("kind", "complex"),
        "xmin": rec["xmin"],
        "ymin": rec["ymin"],
        "xmax": rec["xmax"],
        "ymax": rec["ymax"],
        "tags": tags,
        "way": g.wkb_polygon(rings_merc),
        "way_area": round(area, 1),
        "quadtree": int(cell),
        "tile": int(qt.cell_tile(np.array([cell]), tile_depth)[0]),
    }


def sql_box_values(alias: str = "polys") -> str:
    """The box layer as an ANSI-SQL inline table for the DuckDB oracle."""
    rows = ", ".join(
        f"({r['poly_id']}, {r['xmin']!r}, {r['ymin']!r}, {r['xmax']!r}, {r['ymax']!r})"
        for r in box_records()
    )
    return f"(VALUES {rows}) AS {alias}(poly_id, xmin, ymin, xmax, ymax)"
