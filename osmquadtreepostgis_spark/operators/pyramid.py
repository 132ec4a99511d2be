"""Tile pyramid: minzoom-filtered, simplified low-zoom materializations.

The reference's create_tables_lowzoom / create_views_lowzoom
(/root/reference/osmquadtreepostgis/__init__.py:382-457; invoked with
levels (6, simp=612), 9, 11 at :510-512): per level, filter
``minzoom <= K``, simplify geometry with a tolerance in mercator
metres (points exempt), re-key tiles at the level's depth.

Spark shape: each level is a filtered projection of the SAME source
DataFrame — Catalyst prunes and pushes the minzoom predicate to the
scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cells import cell_parent_col
from ..functions.geometry import wkb_simplify_udf

__all__ = [
    "lowzoom_level",
    "rasterize_points",
    "vectorize_cells",
]


def lowzoom_level(
    df: DataFrame,
    minzoom_cutoff: int,
    simplify_tol: float | None = None,
    geom_col: str = "way",
    minzoom_col: str = "minzoom",
    cell_col: str = "quadtree",
) -> DataFrame:
    """One pyramid level: minzoom filter (+ optional simplify) +
    level tile key."""
    out = df.filter(F.col(minzoom_col) <= minzoom_cutoff)
    if simplify_tol is not None and geom_col in df.columns:
        simp = wkb_simplify_udf(simplify_tol)
        out = out.withColumn(geom_col, simp(F.col(geom_col)))
    if cell_col in df.columns:
        out = out.withColumn(
            "lz_tile", cell_parent_col(cell_col, min(minzoom_cutoff, 20))
        )
    return out


def rasterize_points(
    df: DataFrame,
    depth: int,
    lon: str = "lon",
    lat: str = "lat",
    weight: str | None = None,
) -> DataFrame:
    """Points -> per-cell raster at ``depth``: (cell, n[, w]) — the
    raster half of the north rule's raster<->vector tile aggregation.
    Fully JVM (generated-SQL cell encode, hash aggregate with map-side
    partials); the shuffle key is the cell id."""
    from .. import quadtree as qt

    enc = df.withColumn("cell", F.expr(qt.sql_point_to_cell(lon, lat, depth)))
    aggs = [F.count(F.lit(1)).alias("n")]
    if weight is not None:
        aggs.append(F.sum(weight).alias("w"))
    return enc.groupBy("cell").agg(*aggs)


def vectorize_cells(
    df: DataFrame,
    depth: int,
    cell_col: str = "cell",
    min_count: int | None = None,
    geometry: bool = False,
) -> DataFrame:
    """Raster -> vector: each (thresholded) cell becomes its bounding
    box — x/y via the closed-form magic-mask Morton COMPRESS (pure JVM
    bit math, whole-stage codegen), lon bounds linear in x, v bounds
    exact dyadic rationals y/2^depth (both bit-identical across
    engines, which is what makes the oracle compare exact). With
    ``geometry`` a mercator EWKB box rides along (wkb column, not
    oracle-compared — trig at the export boundary only)."""
    from .. import quadtree as qt

    out = df
    if min_count is not None:
        out = out.filter(F.col("n") >= min_count)
    xe, ye = qt.sql_cell_to_xy(cell_col, depth)
    n = 1 << depth
    out = (
        out.withColumn("x", F.expr(xe))
        .withColumn("y", F.expr(ye))
        .withColumn("lon_min", F.col("x") / n * 360.0 - 180.0)
        .withColumn("lon_max", (F.col("x") + 1) / n * 360.0 - 180.0)
        .withColumn("v_min", F.col("y") / F.lit(float(n)))
        .withColumn("v_max", (F.col("y") + 1) / F.lit(float(n)))
    )
    if geometry:
        import math

        from ..functions.geometry import bbox_to_wkb_udf

        pi = F.lit(math.pi)
        lat_hi = F.degrees(F.atan(F.sinh(pi * (1 - 2 * F.col("v_min")))))
        lat_lo = F.degrees(F.atan(F.sinh(pi * (1 - 2 * F.col("v_max")))))
        out = out.withColumn(
            "way",
            bbox_to_wkb_udf()(
                F.col("lon_min"), lat_lo, F.col("lon_max"), lat_hi
            ),
        )
    return out


def smooth_raster(
    df: DataFrame,
    depth: int,
    kernel: int = 1,
    cell_col: str = "cell",
    value_col: str = "n",
) -> DataFrame:
    """Box-kernel smoothing over a sparse cell raster — the raster
    convolution step between :func:`rasterize_points` and
    :func:`vectorize_cells` (heatmaps, density surfaces, hot-tile
    detection need the blurred field, not raw counts).

    Each present cell SCATTERS its value to the (2k+1)^2 grid
    neighborhood (scatter == gather for a symmetric kernel); targets
    aggregate ``sum(value)`` and divide by their IN-BOUNDS kernel area
    (interior 9, edge 6, corner 4 for k=1) — the zero-padded clipped
    box filter, with absent cells counting as 0.  Integer math plus
    ONE final division, so the DuckDB twin is bit-exact.

    Scale shape: de-interleave cell -> (x, y) via the closed-form
    magic-mask Morton compress (pure JVM bit math), ONE explode of the
    constant (2k+1)^2 offset array (no join against an offset table),
    re-pack the target cell, ONE hash aggregate keyed on it — the same
    shuffle key the raster already uses, map-side-combinable.  Rows
    out <= (2k+1)^2 x rows in, independent of raster resolution.
    Only targets receiving >= 1 contribution appear (sparse-raster
    semantics; fully-zero neighborhoods stay absent).
    """
    from .. import quadtree as qt

    n_side = 1 << depth
    offs = [(dx, dy) for dx in range(-kernel, kernel + 1)
            for dy in range(-kernel, kernel + 1)]
    off_arr = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
          for dx, dy in offs]
    )
    xe, ye = qt.sql_cell_to_xy(cell_col, depth)
    scattered = (
        df.withColumn("__x", F.expr(xe))
        .withColumn("__y", F.expr(ye))
        .withColumn("__o", F.explode(off_arr))
        .select(
            F.col(value_col).alias("__v"),
            (F.col("__x") + F.col("__o.dx")).alias("tx"),
            (F.col("__y") + F.col("__o.dy")).alias("ty"),
        )
        .filter(
            (F.col("tx") >= 0) & (F.col("tx") < n_side)
            & (F.col("ty") >= 0) & (F.col("ty") < n_side)
        )
    )
    # in-bounds kernel area at the TARGET: closed form from (tx, ty)
    span = lambda c: (  # noqa: E731
        F.least(c + kernel, F.lit(n_side - 1)) - F.greatest(c - kernel, F.lit(0)) + 1
    )
    out = (
        scattered.groupBy("tx", "ty")
        .agg(F.sum("__v").alias("v_sum"))
        .withColumn("k_area", span(F.col("tx")) * span(F.col("ty")))
        .withColumn(
            "v_smooth", F.col("v_sum").cast("double") / F.col("k_area")
        )
    )
    return out.select(
        F.expr(qt.sql_pack_xy("tx", "ty", depth)).alias(cell_col),
        "tx",
        "ty",
        "v_sum",
        "k_area",
        "v_smooth",
    )


def sql_smooth_raster(
    raster_sql: str,
    depth: int,
    kernel: int = 1,
    cell_col: str = "cell",
    value_col: str = "n",
) -> str:
    """DuckDB twin of :func:`smooth_raster` — same Morton compress /
    pack generators, offset cross join from two range() scans."""
    from .. import quadtree as qt

    n_side = 1 << depth
    xe, ye = qt.sql_cell_to_xy(cell_col, depth)
    return f"""
WITH __r AS (SELECT *, {xe} AS __x, {ye} AS __y FROM ({raster_sql})),
__off AS (SELECT a.range AS dx, b.range AS dy
          FROM range(-{kernel}, {kernel + 1}) a,
               range(-{kernel}, {kernel + 1}) b),
__sc AS (
  SELECT {value_col} AS __v, __x + dx AS tx, __y + dy AS ty
  FROM __r, __off
  WHERE __x + dx >= 0 AND __x + dx < {n_side}
    AND __y + dy >= 0 AND __y + dy < {n_side}
),
__agg AS (
  SELECT tx, ty, cast(sum(__v) AS bigint) AS v_sum,
         (least(tx + {kernel}, {n_side - 1}) - greatest(tx - {kernel}, 0) + 1)
         * (least(ty + {kernel}, {n_side - 1}) - greatest(ty - {kernel}, 0) + 1)
         AS k_area
  FROM __sc GROUP BY tx, ty
)
SELECT {qt.sql_pack_xy('tx', 'ty', depth)} AS {cell_col},
       tx, ty, v_sum, cast(k_area AS bigint) AS k_area,
       cast(v_sum AS double) / k_area AS v_smooth
FROM __agg
"""
