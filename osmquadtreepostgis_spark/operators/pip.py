"""Point-in-polygon and polygon-overlay joins.

The reference serves PIP/bbox queries from PostGIS gist indices built
over its output tables (/root/reference/osmquadtreepostgis/
__init__.py:243-250, 293). At 100 TB there is no gist: these are the
two canonical distributed strategies (SURVEY.md §2.3 J4/J5):

* ``pip_probe_arrow`` — the polygon layer is small (admin
  boundaries): build a cell-bucketed index over the polygons on the
  driver, broadcast it, and probe in ONE ``mapInArrow`` pass — **zero
  shuffle** on the (huge) point side. Per batch the single trig pass
  encodes each point's tile key (emitted with the hit), the bucket
  cell is its integer ancestor, and the ray cast is vectorized numpy
  grouped by candidate polygon. The per-batch kernel
  :func:`pip_probe_batches` is plain pyarrow in, pyarrow out. The
  index is broadcast once per SparkContext (``PolygonIndex.broadcast``).
  The kernel ends by dropping the worker's cached zip-archive finders:
  pyspark flushes the import caches at the start of every task, and on
  CPython 3.11/3.12 each cached ``zipimporter`` then re-reads its whole
  archive (measured: ~0.2 s per task on 4 vCPUs, CPython 3.11). With
  the eviction each worker pays that once, not once per task; on
  CPython 3.13 the flush is already cheap.
* ``pip_join_shuffle`` — both sides large: explode polygons to their
  covering cells at ``depth``, encode points at the same depth, and
  let Catalyst equi-join on the cell key (AQE handles skewed hot
  cells); exact test afterwards. Shuffle is on cell id — the explicit
  spatial partitioning BASELINE.json mandates.

Both return the same (point, poly_id) rows; pytest pins them against
brute force.
"""

from __future__ import annotations

import sys
import zipimport
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import Broadcast, SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import geom as g
from .. import quadtree as qt
from ..functions.cells import cell_cover_udf, cell_encode_udf

__all__ = [
    "PolygonIndex",
    "pip_probe_arrow",
    "pip_probe_batches",
    "pip_join_shuffle",
]


class PolygonIndex:
    """Driver-built, broadcastable cell → polygon bucket index.

    The flat-grid-at-one-depth bucket structure plays the role of the
    reference's gist(way) R-tree: candidates by cell, exact test after.
    Polygon rings are kept as lon/lat numpy arrays (PIP is projection-
    invariant for our monotone mercator, and points arrive as lon/lat).
    ``depth`` may not exceed ``TILE_DEPTH``: the probe derives the
    bucket cell from the point's tile key.
    """

    def __init__(self, polys: list[dict], depth: int = 6):
        if depth > qt.TILE_DEPTH:
            raise ValueError(
                f"index depth {depth} deeper than TILE_DEPTH {qt.TILE_DEPTH}"
            )
        self.depth = depth
        self.poly_ids = np.array([p["poly_id"] for p in polys], dtype=np.int64)
        self.rings = [p["rings"] for p in polys]  # list[list[(N,2) lon/lat]]
        buckets: dict[int, list[int]] = {}
        for i, p in enumerate(polys):
            cover = qt.cell_cover(
                np.array([p["xmin"]]),
                np.array([p["ymin"]]),
                np.array([p["xmax"]]),
                np.array([p["ymax"]]),
                depth,
            )[0]
            for c in cover.tolist():
                buckets.setdefault(c, []).append(i)
        self.buckets = {c: np.array(v, dtype=np.int64) for c, v in buckets.items()}
        self._broadcast: tuple[SparkContext, Broadcast] | None = None

    @classmethod
    def from_polygons_df(cls, polys_df: DataFrame, depth: int = 6) -> "PolygonIndex":
        rows = polys_df.select("poly_id", "way", "xmin", "ymin", "xmax", "ymax").collect()
        return cls.from_rows(rows, depth)

    @classmethod
    def from_rows(cls, rows, depth: int = 6) -> "PolygonIndex":
        """Index over polygon-layer rows (mappings with ``poly_id``,
        ``way`` as EPSG:3857 WKB, and the lon/lat bbox)."""
        polys = []
        for r in rows:
            _, _, rings_merc = g.parse_wkb(bytes(r["way"]))
            rings_ll = []
            for rm in rings_merc:
                lon, lat = g.merc_inverse(rm[:, 0], rm[:, 1])
                rings_ll.append(np.c_[lon, lat])
            polys.append(
                {
                    "poly_id": r["poly_id"],
                    "rings": rings_ll,
                    "xmin": r["xmin"],
                    "ymin": r["ymin"],
                    "xmax": r["xmax"],
                    "ymax": r["ymax"],
                }
            )
        return cls(polys, depth)

    def broadcast(self, sc: SparkContext) -> Broadcast:
        """This index broadcast to ``sc``: created on the first call,
        reused after. Each ``sc.broadcast`` pickles the index into a
        file that stays in the context's temp dir until the context
        stops, so a stream probing once per micro-batch would otherwise
        leave one file per batch behind."""
        if self._broadcast is None or self._broadcast[0] is not sc:
            self._broadcast = (sc, sc.broadcast(self))
        return self._broadcast[1]

    def __getstate__(self) -> dict:
        # the driver-side broadcast handle does not travel with the index
        return {**self.__dict__, "_broadcast": None}


def pip_probe_arrow(
    points: DataFrame,
    index: PolygonIndex,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """points ⋈ polygons with the polygon side broadcast, in one
    mapInArrow pass. Output: every point column + ``tile`` (the
    point's cell at ``TILE_DEPTH``) + ``poly_id``, one row per
    containing polygon; points in no polygon, and points with a NULL
    or non-finite coordinate, are dropped (inner-join semantics).

    Arrow RecordBatches in and out: the output gather (``take``) is
    C++-side, so string columns never become Python objects."""
    b = index.broadcast(points.sparkSession.sparkContext)
    out_schema = T.StructType(
        points.schema.fields
        + [
            T.StructField("tile", T.LongType(), False),
            T.StructField("poly_id", T.LongType(), False),
        ]
    )
    return points.mapInArrow(
        lambda batches: pip_probe_batches(batches, b.value, lon_col, lat_col),
        out_schema,
    )


def pip_probe_batches(
    batches,
    index: PolygonIndex,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> Iterator[pa.RecordBatch]:
    """The per-batch kernel of :func:`pip_probe_arrow`: for each input
    RecordBatch, yield its hit rows (all input columns) + ``tile`` +
    ``poly_id``; a batch with no hit yields nothing.

    When the batches end, or the consumer closes the generator, the
    kernel drops every ``zipimporter`` from ``sys.path_importer_cache``.
    pyspark's worker calls ``importlib.invalidate_caches()`` at the
    start of every task, and on CPython 3.11/3.12 that makes each
    cached ``zipimporter`` re-read its archive's whole directory:
    ``pyspark.zip``, the py4j zip, the 5k-entry spark-core jar and
    their package sub-paths. Measured in a reused worker on 4 vCPUs,
    CPython 3.11, with 16 cached zip finders: 207-228 ms per task, the
    bulk of a streaming micro-batch's PIP stage. With no zip finder
    cached the flush has nothing to re-read, so each worker pays it
    once, not once per task. An import that needs an archive again
    rebuilds its finder through ``sys.path_hooks``, and ``zipimport``
    serves the directory from its own module-level cache, so the
    rebuild is a dict lookup; modules already imported keep their
    loaders. What is given up is noticing an archive rewritten in place
    during the worker's life; the archives on a worker's path are
    installed files or ``--py-files`` fetched once. On CPython 3.13 the
    flush is already cheap after the first call and the eviction is
    harmless."""
    try:
        for rb in batches:
            lon = np.asarray(
                rb.column(lon_col).to_numpy(zero_copy_only=False), np.float64
            )
            lat = np.asarray(
                rb.column(lat_col).to_numpy(zero_copy_only=False), np.float64
            )
            # NULL arrives as NaN; drop non-finite rows before the encode
            ok = np.flatnonzero(np.isfinite(lon) & np.isfinite(lat))
            lon, lat = lon[ok], lat[ok]
            tile = qt.point_to_cell(lon, lat, qt.TILE_DEPTH)
            probe_cells = qt.cell_parent(tile, index.depth)
            # group candidate rows by polygon via the cell -> poly buckets
            order = np.argsort(probe_cells, kind="stable")
            uc, starts = np.unique(probe_cells[order], return_index=True)
            bounds = np.append(starts, len(order))
            per_poly: dict[int, list[np.ndarray]] = {}
            for k, c in enumerate(uc.tolist()):
                cand = index.buckets.get(c)
                if cand is None:
                    continue
                rows = order[bounds[k] : bounds[k + 1]]
                for pi in cand.tolist():
                    per_poly.setdefault(pi, []).append(rows)
            hits_rows: list[np.ndarray] = []
            hits_pids: list[np.ndarray] = []
            for pi, row_lists in per_poly.items():
                rows = (
                    row_lists[0] if len(row_lists) == 1 else np.concatenate(row_lists)
                )
                inside = g.points_in_polygon(lon[rows], lat[rows], index.rings[pi])
                if inside.any():
                    hits_rows.append(rows[inside])
                    hits_pids.append(np.full(inside.sum(), index.poly_ids[pi]))
            if not hits_rows:
                continue
            rows = np.concatenate(hits_rows)
            taken = rb.take(pa.array(ok[rows]))  # C++ gather, incl. strings
            yield pa.RecordBatch.from_arrays(
                list(taken.columns)
                + [pa.array(tile[rows]), pa.array(np.concatenate(hits_pids))],
                names=taken.schema.names + ["tile", "poly_id"],
            )
    finally:
        _evict_zip_finders()


def _evict_zip_finders() -> None:
    """Drop every ``zipimporter`` from ``sys.path_importer_cache`` (why:
    see :func:`pip_probe_batches`)."""
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            cache.pop(path, None)


def bbox_overlay_join(
    a: DataFrame,
    b: DataFrame,
    depth: int = 6,
    a_id: str = "poly_id",
    b_id: str = "poly_id",
) -> DataFrame:
    """Polygon-polygon candidate join (SURVEY.md §2.3 J5): explode
    both sides to covering cells at ``depth``, equi-join on cell,
    **reference-point dedup** (a pair survives only in the cell that
    contains the south-west corner of the bbox intersection — no
    dedupe shuffle), then the exact bbox-overlap test.

    Inputs need (id, xmin, ymin, xmax, ymax). Output: (id_a, id_b)
    with id_a < id_b. Exact geometry intersection tests can be chained
    after (candidate semantics match PostGIS && on gist).
    """
    from .. import quadtree as qtm

    cover = cell_cover_udf(depth)
    ea = a.select(
        F.col(a_id).alias("id_a"),
        F.col("xmin").alias("axmin"),
        F.col("ymin").alias("aymin"),
        F.col("xmax").alias("axmax"),
        F.col("ymax").alias("aymax"),
        F.explode(cover("xmin", "ymin", "xmax", "ymax")).alias("__cell"),
    )
    eb = b.select(
        F.col(b_id).alias("id_b"),
        F.col("xmin").alias("bxmin"),
        F.col("ymin").alias("bymin"),
        F.col("xmax").alias("bxmax"),
        F.col("ymax").alias("bymax"),
        F.explode(cover("xmin", "ymin", "xmax", "ymax")).alias("__cell"),
    )
    j = ea.join(eb, "__cell").filter(F.col("id_a") < F.col("id_b"))
    overlap = (
        (F.col("axmin") < F.col("bxmax"))
        & (F.col("bxmin") < F.col("axmax"))
        & (F.col("aymin") < F.col("bymax"))
        & (F.col("bymin") < F.col("aymax"))
    )
    # reference point: SW corner of the bbox intersection; its cell is
    # a cover cell of BOTH bboxes, so exactly one joined cell survives
    rx = F.greatest("axmin", "bxmin")
    ry = F.greatest("aymin", "bymin")
    ref_cell = F.expr(
        qtm.sql_point_to_cell(
            "greatest(axmin, bxmin)", "greatest(aymin, bymin)", depth
        )
    )
    return (
        j.filter(overlap)
        .filter(F.col("__cell") == ref_cell)
        .select("id_a", "id_b")
    )


def pip_join_shuffle(
    points: DataFrame,
    polys: DataFrame,
    depth: int = 6,
    lon_col: str = "lon",
    lat_col: str = "lat",
) -> DataFrame:
    """Cell-cover hash join: both sides exploded/encoded to cells at
    ``depth``, equi-joined, then exact-tested. For polygon layers too
    big to broadcast."""
    p = points.withColumn("__cell", cell_encode_udf(depth)(lon_col, lat_col))
    cover = cell_cover_udf(depth)("xmin", "ymin", "xmax", "ymax")
    q = polys.withColumn("__cell", F.explode(cover)).select(
        "poly_id", "way", "__cell"
    )
    joined = p.join(q, "__cell")

    @F.pandas_udf(T.BooleanType())
    def exact(lon: pd.Series, lat: pd.Series, way: pd.Series) -> pd.Series:
        out = np.zeros(len(lon), dtype=bool)
        lonv = lon.to_numpy(np.float64)
        latv = lat.to_numpy(np.float64)
        # group by identical wkb blobs to vectorize per polygon
        codes, uniq = pd.factorize(way)
        for u in range(len(uniq)):
            rings_merc = g.parse_wkb(bytes(uniq[u]))[2]
            rings_ll = []
            for rm in rings_merc:
                glon, glat = g.merc_inverse(rm[:, 0], rm[:, 1])
                rings_ll.append(np.c_[glon, glat])
            m = codes == u
            out[m] = g.points_in_polygon(lonv[m], latv[m], rings_ll)
        return pd.Series(out)

    # no dedupe needed: a point joins each polygon on exactly one cell
    # (the point's own cell), so (point, poly) pairs are already unique
    return joined.filter(exact(F.col(lon_col), F.col(lat_col), F.col("way"))).drop(
        "__cell", "way"
    )
