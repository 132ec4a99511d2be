"""64-bit quadtree cell keys — the engine's spatial index.

Re-derivation (NOT a copy) of the reference's quadtree key semantics:
the reference stores a 64-bit ``quadtree`` key per element and a
``tile`` key per block (``ColumnSource::ObjectQuadtree`` /
``BlockQuadtree``, /root/reference/src/postgiswriter.hpp:97-112,
consumed at src/postgiswriter.cpp:417-420), with integer order equal
to depth-first spatial order so that range scans over the key are
spatially contiguous (blocks are merged in key order,
src/processpostgis.cpp:143). The exact bit packing lives in the
external oqt library; this module freezes OUR packing, pinned by the
golden fixtures in tests/test_quadtree.py:

    key = (morton_path << (2 * (MAX_DEPTH - depth) + DEPTH_BITS)) | depth

* ``morton_path``: x/y tile indices at ``depth`` bit-interleaved,
  x in even bit positions (bit ``2i``), y in odd (bit ``2i+1``),
  i.e. quadrant digit per level = ``2*y_bit + x_bit``.
* left-aligned to ``2*MAX_DEPTH`` bits so a parent key is numerically
  smaller than every descendant and all descendants sort contiguously
  after it (depth-first order).
* low ``DEPTH_BITS`` bits carry the depth (reference keeps depth in
  the key the same way so ancestor/child relations are pure integer
  math).

Projection: web-mercator "slippy map" unit square —
``u = (lon+180)/360``; ``v = (1 - ln(tan(pi/4 + lat/2))/pi)/2`` with
lat clamped to ±85.0511287798066 (the square mercator cutoff the
reference's EPSG:3857 output implies, src/validategeoms.cpp:148-161).

Everything here is pure numpy on arrays (no Spark imports) so the
same kernels back pandas UDFs, pytest fixtures, and the oracle-SQL
generator (``sql_point_to_cell``) which re-expresses the identical
math as ANSI SQL for DuckDB cross-checking.
"""

from __future__ import annotations

import numpy as np

MAX_DEPTH = 20
DEPTH_BITS = 5
_DEPTH_MASK = (1 << DEPTH_BITS) - 1
MERC_MAX_LAT = 85.0511287798066
EARTH_RADIUS = 6378137.0  # EPSG:3857 sphere radius (metres)
# the engine's frozen key depths: object cells and the tile (block) key
CELL_DEPTH = 18
TILE_DEPTH = 8

__all__ = [
    "MAX_DEPTH",
    "DEPTH_BITS",
    "MERC_MAX_LAT",
    "EARTH_RADIUS",
    "CELL_DEPTH",
    "TILE_DEPTH",
    "lonlat_to_unit",
    "unit_to_lonlat",
    "point_to_cell",
    "bbox_to_cell",
    "cell_depth",
    "cell_parent",
    "cell_tile",
    "cell_children",
    "cell_to_tile_xy",
    "cell_to_bbox",
    "cell_neighbors",
    "cell_cover",
    "is_ancestor",
    "sql_point_to_cell",
    "sql_tile_xy",
    "sql_pack_xy",
    "sql_cell_parent",
]


# ---------------------------------------------------------------------------
# projection


def lonlat_to_unit(lon, lat):
    """(lon, lat) degrees -> (u, v) in the mercator unit square [0, 1)."""
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    u = (lon + 180.0) / 360.0
    latc = np.clip(lat, -MERC_MAX_LAT, MERC_MAX_LAT)
    s = np.tan(np.pi / 4.0 + np.radians(latc) / 2.0)
    v = (1.0 - np.log(s) / np.pi) / 2.0
    eps = np.nextafter(1.0, 0.0)
    return np.clip(u, 0.0, eps), np.clip(v, 0.0, eps)


def unit_to_lonlat(u, v):
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    lon = u * 360.0 - 180.0
    lat = np.degrees(2.0 * np.arctan(np.exp((1.0 - 2.0 * v) * np.pi)) - np.pi / 2.0)
    return lon, lat


# ---------------------------------------------------------------------------
# morton interleave (vectorized bit spreading)


def _part1by1(n: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each uint64 to even bit positions."""
    n = n.astype(np.uint64)
    n &= np.uint64(0xFFFFFFFF)
    n = (n | (n << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    n = (n | (n << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    n = (n | (n << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    n = (n | (n << np.uint64(2))) & np.uint64(0x3333333333333333)
    n = (n | (n << np.uint64(1))) & np.uint64(0x5555555555555555)
    return n


def _compact1by1(n: np.ndarray) -> np.ndarray:
    """Inverse of _part1by1: gather even bit positions into low bits."""
    n = n.astype(np.uint64)
    n &= np.uint64(0x5555555555555555)
    n = (n | (n >> np.uint64(1))) & np.uint64(0x3333333333333333)
    n = (n | (n >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    n = (n | (n >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    n = (n | (n >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    n = (n | (n >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return n


def _morton(x: np.ndarray, y: np.ndarray) -> np.ndarray:
    return _part1by1(x) | (_part1by1(y) << np.uint64(1))


def _pack(path: np.ndarray, depth) -> np.ndarray:
    depth = np.asarray(depth, dtype=np.uint64)
    shift = np.uint64(2) * (np.uint64(MAX_DEPTH) - depth) + np.uint64(DEPTH_BITS)
    return ((path.astype(np.uint64) << shift) | depth).astype(np.int64)


# ---------------------------------------------------------------------------
# encode / decode


def point_to_cell(lon, lat, depth: int) -> np.ndarray:
    """Vectorized: (lon, lat) arrays -> int64 cell keys at ``depth``."""
    if not 0 <= depth <= MAX_DEPTH:
        raise ValueError(f"depth {depth} outside [0, {MAX_DEPTH}]")
    u, v = lonlat_to_unit(lon, lat)
    n = np.uint64(1) << np.uint64(depth)
    x = np.minimum(np.floor(u * float(n)).astype(np.uint64), n - np.uint64(1))
    y = np.minimum(np.floor(v * float(n)).astype(np.uint64), n - np.uint64(1))
    return _pack(_morton(x, y), depth)


def bbox_to_cell(minlon, minlat, maxlon, maxlat, max_depth: int = MAX_DEPTH) -> np.ndarray:
    """Deepest cell (<= max_depth) fully containing each bbox.

    The reference's "max-depth split" rule: an object's quadtree key is
    the deepest cell whose box contains the object's bbox (object keys
    are computed upstream in oqt; the reference consumes them as
    ``ObjectQuadtree``, src/postgiswriter.cpp:417-418). Implemented as
    the common morton ancestor of the two bbox corners at max_depth.
    """
    if not 0 <= max_depth <= MAX_DEPTH:
        raise ValueError(f"max_depth {max_depth} outside [0, {MAX_DEPTH}]")
    u0, v0 = lonlat_to_unit(minlon, minlat)
    u1, v1 = lonlat_to_unit(maxlon, maxlat)
    # note: v axis is flipped (north -> small v); order does not matter for xor
    n = np.uint64(1) << np.uint64(max_depth)
    nm1 = n - np.uint64(1)
    x0 = np.minimum(np.floor(u0 * float(n)).astype(np.uint64), nm1)
    x1 = np.minimum(np.floor(u1 * float(n)).astype(np.uint64), nm1)
    y0 = np.minimum(np.floor(v0 * float(n)).astype(np.uint64), nm1)
    y1 = np.minimum(np.floor(v1 * float(n)).astype(np.uint64), nm1)
    xor = (x0 ^ x1) | (y0 ^ y1)
    # bits needed to distinguish the corners
    need = np.zeros_like(xor, dtype=np.uint64)
    t = xor.copy()
    while np.any(t):
        nz = t > 0
        need[nz] += np.uint64(1)
        t >>= np.uint64(1)
    depth = np.uint64(max_depth) - need
    shift = np.uint64(max_depth) - depth  # drop the differing low bits
    x = x0 >> shift
    y = y0 >> shift
    return _pack(_morton(x, y), depth)


def cell_depth(key) -> np.ndarray:
    return (np.asarray(key, dtype=np.int64) & _DEPTH_MASK).astype(np.int64)


def cell_parent(key, depth: int) -> np.ndarray:
    """Ancestor cell at ``depth`` (pure integer math; the reference's
    ``BlockQuadtree``/``tile`` is the ancestor of the object key at the
    block tiling depth, src/postgiswriter.cpp:419-420)."""
    k = np.asarray(key, dtype=np.int64).astype(np.uint64)
    aligned = k >> np.uint64(DEPTH_BITS)
    keep = np.uint64(2 * MAX_DEPTH - 2 * depth)
    parent = (aligned >> keep) << keep
    return ((parent << np.uint64(DEPTH_BITS)) | np.uint64(depth)).astype(np.int64)


def cell_tile(key, tile_depth: int) -> np.ndarray:
    """Ancestor at ``min(tile_depth, cell_depth)`` — the reference's
    tile/BlockQuadtree: a block key can never be deeper than the
    object key it contains."""
    k = np.asarray(key, dtype=np.int64).reshape(-1)
    d = np.minimum(cell_depth(k), tile_depth)
    out = np.empty_like(k)
    for dd in np.unique(d):
        m = d == dd
        out[m] = cell_parent(k[m], int(dd))
    return out


def cell_children(key) -> np.ndarray:
    """(N,) keys -> (N, 4) child keys one level deeper."""
    k = np.asarray(key, dtype=np.int64).reshape(-1)
    d = cell_depth(k)
    if np.any(d >= MAX_DEPTH):
        raise ValueError("cannot split below MAX_DEPTH")
    x, y, d2 = cell_to_tile_xy(k)
    out = np.empty((len(k), 4), dtype=np.int64)
    for q in range(4):
        cx = (x << np.uint64(1)) | np.uint64(q & 1)
        cy = (y << np.uint64(1)) | np.uint64(q >> 1)
        out[:, q] = _pack(_morton(cx, cy), d2 + 1)
    return out


def cell_to_tile_xy(key):
    """key -> (x, y, depth) tile coordinates."""
    k = np.asarray(key, dtype=np.int64).astype(np.uint64)
    d = (k & np.uint64(_DEPTH_MASK)).astype(np.uint64)
    path = k >> (np.uint64(2) * (np.uint64(MAX_DEPTH) - d) + np.uint64(DEPTH_BITS))
    x = _compact1by1(path)
    y = _compact1by1(path >> np.uint64(1))
    return x, y, d.astype(np.int64)


def cell_to_bbox(key):
    """key -> (minlon, minlat, maxlon, maxlat) arrays."""
    x, y, d = cell_to_tile_xy(key)
    n = np.exp2(d.astype(np.float64))
    u0 = x.astype(np.float64) / n
    u1 = (x.astype(np.float64) + 1.0) / n
    v0 = y.astype(np.float64) / n
    v1 = (y.astype(np.float64) + 1.0) / n
    lon0, lat1 = unit_to_lonlat(u0, v0)  # small v = north
    lon1, lat0 = unit_to_lonlat(u1, v1)
    return lon0, lat0, lon1, lat1


def cell_neighbors(key, include_self: bool = False) -> np.ndarray:
    """(N,) keys -> (N, 8|9) same-depth neighbor keys (edge-clipped:
    out-of-range neighbors repeat the cell itself so the output shape
    is rectangular; callers dedupe)."""
    k = np.asarray(key, dtype=np.int64).reshape(-1)
    x, y, d = cell_to_tile_xy(k)
    n = (np.uint64(1) << d.astype(np.uint64)) - np.uint64(1)
    offs = [(-1, -1), (0, -1), (1, -1), (-1, 0), (1, 0), (-1, 1), (0, 1), (1, 1)]
    if include_self:
        offs = [(0, 0)] + offs
    out = np.empty((len(k), len(offs)), dtype=np.int64)
    xi = x.astype(np.int64)
    yi = y.astype(np.int64)
    ni = n.astype(np.int64)
    for j, (dx, dy) in enumerate(offs):
        nx = np.clip(xi + dx, 0, ni)
        ny = np.clip(yi + dy, 0, ni)
        out[:, j] = _pack(_morton(nx.astype(np.uint64), ny.astype(np.uint64)), d)
    return out


def cell_cover(minlon, minlat, maxlon, maxlat, depth: int):
    """Cells at ``depth`` covering each bbox -> list of int64 arrays.

    This is the engine's locs/partition-pruning primitive: the
    reference restricts scans to a location set of tiles
    (read_blocks_merge ``locs``, src/processpostgis.cpp:143) and its
    spatial indices answer bbox queries; cell_cover turns a bbox into
    the equi-joinable key set.
    """
    u0, v0 = lonlat_to_unit(np.asarray(minlon), np.asarray(minlat))
    u1, v1 = lonlat_to_unit(np.asarray(maxlon), np.asarray(maxlat))
    n = np.uint64(1) << np.uint64(depth)
    nm1 = int(n - np.uint64(1))
    x0 = np.minimum(np.floor(u0 * float(n)).astype(np.int64), nm1)
    x1 = np.minimum(np.floor(u1 * float(n)).astype(np.int64), nm1)
    # v axis flipped: maxlat -> smaller v
    ya = np.minimum(np.floor(v1 * float(n)).astype(np.int64), nm1)
    yb = np.minimum(np.floor(v0 * float(n)).astype(np.int64), nm1)
    out = []
    for i in range(x0.size):
        xs = np.arange(x0.flat[i], x1.flat[i] + 1, dtype=np.uint64)
        ys = np.arange(ya.flat[i], yb.flat[i] + 1, dtype=np.uint64)
        gx, gy = np.meshgrid(xs, ys)
        out.append(np.sort(_pack(_morton(gx.ravel(), gy.ravel()), depth)))
    return out


def is_ancestor(anc, key) -> np.ndarray:
    anc = np.asarray(anc, dtype=np.int64)
    key = np.asarray(key, dtype=np.int64)
    d = cell_depth(anc)
    kd = cell_depth(key)
    out = np.zeros(np.broadcast(anc, key).shape, dtype=bool)
    for dd in np.unique(d):
        # guard: cell_parent zero-pads when dd > depth(key), so a deeper
        # all-NW descendant would compare equal with the relation
        # inverted — only keys at least as deep as the ancestor qualify
        m = (d == dd) & (kd >= dd)
        out |= m & (cell_parent(key, int(dd)) == anc)
    return out


# ---------------------------------------------------------------------------
# oracle-SQL generation — the identical math as ANSI SQL (DuckDB & Spark
# SQL both accept these expressions), used for the driver's cross-check.


def sql_tile_xy(lon: str, lat: str, depth: int) -> tuple[str, str]:
    """SQL expressions for the x/y tile indices at ``depth``.

    Use inside a CTE so the trig is evaluated once, then feed the
    column names to sql_pack_xy.
    """
    maxlat = repr(MERC_MAX_LAT)
    latc = f"least(greatest(({lat}), -{maxlat}), {maxlat})"
    u = f"(({lon}) + 180.0) / 360.0"
    v = f"(1.0 - ln(tan(pi()/4.0 + radians({latc})/2.0))/pi()) / 2.0"
    n = 1 << depth
    x = f"least(greatest(cast(floor(({u}) * {n}.0) as bigint), 0), {n - 1})"
    y = f"least(greatest(cast(floor(({v}) * {n}.0) as bigint), 0), {n - 1})"
    return x, y


def sql_pack_xy(x: str, y: str, depth: int) -> str:
    """SQL expression packing x/y tile indices into the int64 cell key."""
    terms = []
    for i in range(depth):
        terms.append(f"(((({x}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({y}) >> {i}) & 1) << {2 * i + 1})")
    morton = " | ".join(terms) if terms else "0"
    shift = 2 * (MAX_DEPTH - depth) + DEPTH_BITS
    return f"((({morton}) << {shift}) | {depth})"


def sql_point_to_cell(lon: str, lat: str, depth: int) -> str:
    """SQL expression computing point_to_cell(lon, lat, depth)."""
    x, y = sql_tile_xy(lon, lat, depth)
    return sql_pack_xy(x, y, depth)


def sql_cell_parent(key: str, depth: int) -> str:
    """SQL expression computing cell_parent(key, depth)."""
    keep = 2 * MAX_DEPTH - 2 * depth
    return f"((((({key}) >> {DEPTH_BITS}) >> {keep}) << {keep + DEPTH_BITS}) | {depth})"


_COMPRESS_MASKS = (
    (1, 0x3333333333333333),
    (2, 0x0F0F0F0F0F0F0F0F),
    (4, 0x00FF00FF00FF00FF),
    (8, 0x0000FFFF0000FFFF),
    (16, 0x00000000FFFFFFFF),
)


def sql_cell_to_xy(key: str, depth: int) -> tuple[str, str]:
    """SQL expressions for the tile x/y of a depth-``depth`` cell —
    the inverse of sql_pack_xy, via the closed-form magic-mask bit
    COMPRESS (reverse Morton spread; identical in Spark SQL and
    DuckDB, so it serves both the engine and the oracle)."""
    aligned = f"((({key}) >> {DEPTH_BITS}) >> {2 * (MAX_DEPTH - depth)})"

    def compress(v: str) -> str:
        e = f"(({v}) & 6148914691236517205)"  # keep even bits
        for s, m in _COMPRESS_MASKS:
            e = f"((({e}) | (({e}) >> {s})) & {m})"
        return e

    return compress(aligned), compress(f"({aligned}) >> 1")
