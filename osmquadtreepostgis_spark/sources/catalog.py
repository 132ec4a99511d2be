"""Catalog: cell-clustered table layout + pruned scans.

The reference restricts scans to a quadtree location set before
reading (``get_locs`` + ``read_blocks_merge(locs)``,
/root/reference/osmquadtreepostgis/__init__.py:30,
src/processpostgis.cpp:143). The Spark analog (SURVEY.md §2.1 S1/S2):

* write tables **partitioned by a coarse tile** and **range-clustered
  by cell id within partitions** — directory pruning on the tile
  column + parquet row-group min/max pruning on the cell column;
* read with a cell-range / bbox predicate that Catalyst pushes to
  both layers.

Iceberg would add snapshot isolation + hidden partitioning; this is
plain parquet with the same layout discipline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import quadtree as qt
from ..functions.cells import cell_tile_col

__all__ = ["write_clustered", "read_cell_range", "read_bbox"]

PARTITION_DEPTH = 4  # 256 top-level dirs — coarse enough for 100 TB dirs


def write_clustered(
    df: DataFrame, path: str, cell_col: str = "cell", partition_depth: int = PARTITION_DEPTH
) -> str:
    """Write partitioned by the coarse tile + sorted by cell id within
    files (the quadtree-ordered block layout, src/processpostgis.cpp:143).

    The partition label is the depth-GUARDED tile (min of cell depth and
    partition depth) so cells shallower than ``partition_depth`` — large
    objects, which ``bbox_to_cell`` legitimately produces — get their own
    key as the label, matching what the read side computes."""
    out = df.withColumn("__ptile", cell_tile_col(cell_col, partition_depth))
    (
        out.repartitionByRange("__ptile", cell_col)
        .sortWithinPartitions(cell_col)
        .write.mode("overwrite")
        .partitionBy("__ptile")
        .parquet(path)
    )
    return path


def read_cell_range(
    spark: SparkSession,
    path: str,
    min_cell: int,
    max_cell: int,
    cell_col: str = "cell",
    partition_depth: int = PARTITION_DEPTH,
) -> DataFrame:
    """Scan restricted to a cell-id range: the partition filter prunes
    directories, the cell predicate prunes row groups (both visible as
    PartitionFilters / PushedFilters in explain)."""
    import numpy as np

    pmin = int(qt.cell_tile(np.array([min_cell]), partition_depth)[0])
    pmax = int(qt.cell_tile(np.array([max_cell]), partition_depth)[0])
    df = spark.read.parquet(path)
    return df.filter(
        (F.col("__ptile") >= pmin)
        & (F.col("__ptile") <= pmax)
        & (F.col(cell_col) >= min_cell)
        & (F.col(cell_col) <= max_cell)
    ).drop("__ptile")


def read_bbox(
    spark: SparkSession,
    path: str,
    minlon: float,
    minlat: float,
    maxlon: float,
    maxlat: float,
    depth: int,
    cell_col: str = "cell",
) -> DataFrame:
    """bbox scan: per covering ancestor at the partition depth, one
    contiguous key range (depth-first order makes each subtree a
    range) — the get_locs(box) analog."""
    import numpy as np

    cover = qt.cell_cover(
        np.array([minlon]), np.array([minlat]), np.array([maxlon]), np.array([maxlat]),
        PARTITION_DEPTH,
    )[0]
    df = spark.read.parquet(path)
    # each partition tile's descendants form a contiguous cell range
    conds = None
    for t in cover.tolist():
        x, y, d = qt.cell_to_tile_xy(np.array([t]))
        lo = int(t)
        # max descendant key: all deeper path bits set, depth field max'd
        span = 2 * (qt.MAX_DEPTH - int(d[0]))
        hi = int(((t >> qt.DEPTH_BITS) + ((1 << span) - 1)) << qt.DEPTH_BITS) | (
            (1 << qt.DEPTH_BITS) - 1
        )
        c = (F.col("__ptile") == t) & (F.col(cell_col) >= lo) & (F.col(cell_col) <= hi)
        conds = c if conds is None else (conds | c)
    # Cells SHALLOWER than the cover depth (large objects: bbox_to_cell
    # stops at the deepest cell containing the whole bbox) are never in
    # a cover tile's subtree range — they precede it in depth-first
    # order. Any depth-<cover cell intersecting the bbox is an ancestor
    # of some cover tile, so the exact ancestor-key set completes the
    # scan (the reference's get_locs includes the path tiles too,
    # src/processpostgis.cpp:143).
    anc = set()
    for dd in range(PARTITION_DEPTH):
        anc.update(qt.cell_parent(cover, dd).tolist())
    if anc:
        keys = sorted(anc)
        c = F.col("__ptile").isin(keys) & F.col(cell_col).isin(keys)
        conds = c if conds is None else (conds | c)
    return df.filter(conds).drop("__ptile")
