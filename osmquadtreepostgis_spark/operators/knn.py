"""kNN operators: grid-partitioned spatial kNN + embedding similarity.

The reference's tile organization + gin/gist indices serve proximity
lookups (/root/reference/osmquadtreepostgis/__init__.py:243-250,
278, 295); SURVEY.md §2.3 J6 maps them to grid-partitioned kNN.

* ``knn_exact`` — broadcast the (small) query set, score every point,
  ``Window.partitionBy(query).orderBy(dist)`` top-k. The oracle path.
* ``knn_grid`` — candidates restricted to the query's cell + 8
  neighbors at ``depth`` (equi-join on cell id → shuffle is on the
  spatial key; AQE splits hot cells). Exact among candidates; the
  scale path when the neighbor ring is known to bound the k-radius.
* ``ann_cosine_pairs`` / ``ann_cosine_topk`` — embedding-space
  similarity: brute-force baseline JVM-side (zip_with/aggregate), and
  an IVF-bucketed variant (deterministic anchors) as the scale path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.cells import cell_encode_udf, cell_neighbors_udf
from ..session import barrier, fanout_small_scan

__all__ = [
    "knn_exact",
    "knn_grid",
    "knn_grid_guaranteed",
    "ann_cosine_pairs",
    "ann_cosine_pairs_grid",
    "ann_cosine_pairs_lsh",
    "ann_cosine_topk",
    "ann_cosine_ivf",
    "kmeans_anchors",
]


def _dist2(qlon, qlat, plon, plat):
    dx = qlon - plon
    dy = qlat - plat
    return dx * dx + dy * dy


def knn_exact(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    q_id: str = "q_id",
    p_id: str = "p_id",
) -> DataFrame:
    """Exact kNN: every (query, point) scored; deterministic ties by
    point id. queries: (q_id, q_lon, q_lat); points: (p_id, lon, lat)."""
    j = fanout_small_scan(points).crossJoin(F.broadcast(queries))
    d2 = _dist2(F.col("q_lon"), F.col("q_lat"), F.col("lon"), F.col("lat"))
    w = Window.partitionBy(q_id).orderBy(F.col("dist2").asc(), F.col(p_id).asc())
    return (
        j.withColumn("dist2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, p_id, "dist2", "rank")
    )


def knn_grid(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    depth: int = 6,
    q_id: str = "q_id",
    p_id: str = "p_id",
) -> DataFrame:
    """Grid kNN: candidates from the query's cell + neighbors at
    ``depth``. Exact among candidates (== exact kNN whenever the
    true k-radius fits inside the 3x3 neighbor ring; pytest pins this
    on the fixture data)."""
    p = points.withColumn("__cell", cell_encode_udf(depth)("lon", "lat"))
    q = (
        queries.withColumn("__qcell", cell_encode_udf(depth)("q_lon", "q_lat"))
        .withColumn("__cell", F.explode(cell_neighbors_udf(True)("__qcell")))
        .drop("__qcell")
    )
    j = p.join(F.broadcast(q), "__cell")
    d2 = _dist2(F.col("q_lon"), F.col("q_lat"), F.col("lon"), F.col("lat"))
    w = Window.partitionBy(q_id).orderBy(F.col("dist2").asc(), F.col(p_id).asc())
    return (
        j.withColumn("dist2", d2)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, p_id, "dist2", "rank")
    )


def _ring_probe(queries: DataFrame, depth: int, r: int, q_id: str) -> DataFrame:
    """One mapInArrow pass: query point -> one row per probe tile within
    Chebyshev radius ``r`` at ``depth``, carrying the guaranteed
    distance to the ring's outer boundary in lon/lat degrees. A side
    clipped at the grid edge contributes +inf (nothing can lie beyond
    it — u is clipped to [0,1), lat to the mercator clamp, and the
    dateline does not wrap)."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    from .. import quadtree as qt

    n = 1 << depth

    def _inv_merc_lat(v: np.ndarray) -> np.ndarray:
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * v))))

    schema = T.StructType(
        [
            T.StructField(q_id, T.LongType(), False),
            T.StructField("q_lon", T.DoubleType(), False),
            T.StructField("q_lat", T.DoubleType(), False),
            T.StructField("__bd", T.DoubleType(), False),
            T.StructField("__cell", T.LongType(), False),
        ]
    )

    def probe(batches):
        for rb in batches:
            qid = rb.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(qid) == 0:
                continue
            lon = rb.column(1).to_numpy(zero_copy_only=False).astype(np.float64)
            lat = rb.column(2).to_numpy(zero_copy_only=False).astype(np.float64)
            cells = qt.point_to_cell(lon, lat, depth)
            x, y, _ = qt.cell_to_tile_xy(cells)
            x = x.astype(np.int64)
            y = y.astype(np.int64)
            offs = np.arange(-r, r + 1)
            ox, oy = np.meshgrid(offs, offs, indexing="ij")
            gx = x[:, None] + ox.ravel()[None, :]
            gy = y[:, None] + oy.ravel()[None, :]
            ok = ((gx >= 0) & (gx < n) & (gy >= 0) & (gy < n)).ravel()
            keys = qt._pack(
                qt._morton(
                    np.clip(gx, 0, n - 1).astype(np.uint64).ravel(),
                    np.clip(gy, 0, n - 1).astype(np.uint64).ravel(),
                ),
                depth,
            )
            inf = np.inf
            d_left = np.where(x - r > 0, lon - ((x - r) / n * 360.0 - 180.0), inf)
            d_right = np.where(
                x + r < n - 1, ((x + r + 1) / n * 360.0 - 180.0) - lon, inf
            )
            d_top = np.where(y - r > 0, _inv_merc_lat((y - r) / n) - lat, inf)
            d_bot = np.where(
                y + r < n - 1, lat - _inv_merc_lat((y + r + 1) / n), inf
            )
            bd = np.minimum(np.minimum(d_left, d_right), np.minimum(d_top, d_bot))
            w = (2 * r + 1) ** 2
            rep = lambda a: np.repeat(a, w)[ok]  # noqa: E731
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(rep(qid)),
                    pa.array(rep(lon)),
                    pa.array(rep(lat)),
                    pa.array(rep(bd)),
                    pa.array(keys[ok]),
                ],
                names=[q_id, "q_lon", "q_lat", "__bd", "__cell"],
            )

    src = queries.select(
        F.col(q_id).cast("long").alias(q_id),
        F.col("q_lon").cast("double"),
        F.col("q_lat").cast("double"),
    )
    return src.mapInArrow(probe, schema)


def knn_grid_guaranteed(
    queries: DataFrame,
    points: DataFrame,
    k: int,
    depth: int = 6,
    max_rounds: int = 3,
    q_id: str = "q_id",
    p_id: str = "p_id",
) -> DataFrame:
    """EXACT grid kNN via radius expansion: per round, candidates come
    from the query's Chebyshev-radius-r tile ring at ``depth``; a query
    is resolved when it found k candidates AND its k-th distance is
    within the ring's guaranteed boundary distance (so no point outside
    the ring can beat the current top-k). Unresolved queries re-probe
    with r doubled; anything still open after ``max_rounds`` falls back
    to the exhaustive scan — by then that set is the pathological tail
    (empty regions), not the common case.

    The shuffle key is the spatial cell (probe side broadcast), so at
    scale each round is one pruned equi-join over the shrinking
    unresolved set — never a crossJoin of all points. Matches
    ``knn_exact`` exactly (same metric: euclidean lon/lat degrees,
    deterministic ties by point id)."""
    # cache the encoded points: every expansion round (and the
    # exhaustive fallback) re-reads them, and the pandas-UDF encode is
    # the expensive part of the probe join
    p = fanout_small_scan(points).withColumn("__cell", cell_encode_udf(depth)("lon", "lat"))
    p = p.cache()
    parts = []
    remaining = queries
    r = 1
    # ONE lazy DAG, no driver-side actions between rounds: each round's
    # unresolved set is an anti-join on the (cached) previous topk, and
    # the exhaustive fallback always closes the plan — on fully
    # resolved inputs it degenerates to a broadcast of zero query rows
    # against the cached points, far cheaper than per-round isEmpty jobs
    for _ in range(max_rounds):
        probe = _ring_probe(remaining, depth, r, q_id)
        j = p.join(F.broadcast(probe), "__cell")
        d2 = _dist2(F.col("q_lon"), F.col("q_lat"), F.col("lon"), F.col("lat"))
        w = Window.partitionBy(q_id).orderBy(F.col("dist2").asc(), F.col(p_id).asc())
        topk = (
            j.withColumn("dist2", d2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select(q_id, p_id, "dist2", "rank", "__bd")
        )
        topk = topk.cache()  # reused by 3 branches (resolve/emit/anti)
        resolved = (
            topk.groupBy(q_id)
            .agg(
                F.count(F.lit(1)).alias("__nc"),
                F.max("dist2").alias("__dk"),
                F.first("__bd").alias("__bd"),
            )
            # STRICT <: a point exactly on the ring boundary belongs to
            # the next tile (floor semantics) and could tie the k-th
            # distance with a smaller id — only a strictly closer k-th
            # candidate is safe from anything outside the ring
            .filter((F.col("__nc") == k) & (F.col("__dk") < F.col("__bd") ** 2))
            .select(q_id)
        )
        parts.append(
            topk.join(resolved, q_id, "semi").select(q_id, p_id, "dist2", "rank")
        )
        remaining = remaining.join(resolved, q_id, "anti")
        r *= 2
    parts.append(
        knn_exact(
            remaining, p.drop("__cell"), k, q_id=q_id, p_id=p_id
        )
    )
    out = parts[0]
    for extra in parts[1:]:
        out = out.unionByName(extra)
    return out


def _cosine(a, b):
    """JVM-side cosine over two array<float/double> columns (zip_with +
    aggregate fold — left-to-right double sums, no Python)."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    na = F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    nb = F.sqrt(
        F.aggregate(
            b, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )
    return dot / na / nb


def ann_cosine_pairs(
    emb: DataFrame, threshold: float, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """All id<id2 pairs with cosine >= threshold (brute force baseline,
    near-dup detection). Output: (id_a, id_b, cos_sim)."""
    a = emb.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va")
    )
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    j = a.join(b, F.col("id_a") < F.col("id_b"))
    sim = _cosine(F.col("__va"), F.col("__vb"))
    return (
        j.withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def ann_cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
) -> DataFrame:
    """Brute-force cosine top-k per query (broadcast queries)."""
    j = fanout_small_scan(emb).crossJoin(F.broadcast(queries))
    sim = _cosine(F.col(vec_col), F.col(q_vec))
    w = Window.partitionBy(q_id).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        j.withColumn("cos_sim", sim)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id, F.col(id_col), F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )


def ann_cosine_pairs_grid(
    emb: DataFrame,
    threshold: float,
    block_rows: int = 1024,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine >= threshold, fully distributed: block-pair
    cogroup GEMM. No driver-side materialization.

    Plan shape: every vector gets a block id ``bid = xxhash64(id) % B``;
    the B*(B+1)/2 unordered block pairs (i <= j) are the shuffle keys.
    The left arm replicates each row to pairs (bid, j>=bid), the right
    arm to (i<=bid, bid); a cogrouped applyInPandas runs a chunked numpy
    GEMM per block pair, so task memory is bounded by two blocks
    (block_rows x dim doubles) regardless of |emb|. Each unordered id
    pair lands in exactly one group (its blocks' pair), so no
    dropDuplicates shuffle is needed.

    Exact all-pairs is inherently O(n^2) dot products — this operator
    distributes that cost evenly; for web-scale near-dup detection at
    high thresholds use ann_cosine_pairs_lsh, which prunes candidates
    first. Reference analog: the gist/gin similarity indices
    (/root/reference/osmquadtreepostgis/__init__.py:243-250) exist so
    lookups never scan everything; the block grid is the shuffle-native
    equivalent for the exact case.

    At cluster scale pass ``n_blocks`` explicitly (e.g. so block_rows ~
    64k: GEMM-bound tasks, B(B+1)/2 tasks total) instead of the count()
    this helper runs to size blocks.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    if n_blocks is None:
        n_blocks = max(1, -(-emb.count() // block_rows))
    B = int(n_blocks)

    base = emb.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__vec"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(B)).alias("__bid"),
    )
    # per-side column names: cogroup over two branches of the SAME
    # DataFrame silently drops same-named non-key columns from the
    # right pdf (self-plan ambiguity), so the sides must not share names
    left = base.withColumn(
        "__kb2", F.explode(F.sequence(F.col("__bid"), F.lit(B - 1)))
    ).select(
        F.col("__bid").alias("__kb1"),
        "__kb2",
        F.col("__id").alias("__lid"),
        F.col("__vec").alias("__lvec"),
    )
    right = base.withColumn(
        "__kb1", F.explode(F.sequence(F.lit(0), F.col("__bid")))
    ).select(
        "__kb1",
        F.col("__bid").alias("__kb2"),
        F.col("__id").alias("__rid"),
        F.col("__vec").alias("__rvec"),
    )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType(), False),
            T.StructField("id_b", T.LongType(), False),
            T.StructField("cos_sim", T.DoubleType(), False),
        ]
    )

    def gemm(key, l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        if len(l) == 0 or len(r) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        same = key[0] == key[1]
        lid = l["__lid"].to_numpy(np.int64)
        rid = r["__rid"].to_numpy(np.int64)
        L = np.array(l["__lvec"].tolist(), dtype=np.float64)
        R = np.array(r["__rvec"].tolist(), dtype=np.float64)
        L /= np.linalg.norm(L, axis=1, keepdims=True)
        R /= np.linalg.norm(R, axis=1, keepdims=True)
        out_a, out_b, out_s = [], [], []
        # chunk the GEMM so the sims matrix stays ~chunk x |R| doubles
        chunk = max(1, (1 << 23) // max(1, len(R)))  # ~64 MB of sims
        for s in range(0, len(L), chunk):
            sims = L[s : s + chunk] @ R.T
            ia, ib = np.nonzero(sims >= threshold)
            if ia.size == 0:
                continue
            ga = lid[ia + s]
            gb = rid[ib]
            keep = ga != gb if same else np.ones(len(ga), dtype=bool)
            if same:
                # both sides hold the same block: keep each unordered
                # pair once (id_a < id_b)
                keep &= ga < gb
            if not keep.any():
                continue
            a, b = ga[keep], gb[keep]
            lo, hi = np.minimum(a, b), np.maximum(a, b)
            out_a.append(lo)
            out_b.append(hi)
            out_s.append(sims[ia[keep], ib[keep]])
        if not out_a:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos_sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos_sim": "float64"}
            )
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a),
                "id_b": np.concatenate(out_b),
                "cos_sim": np.concatenate(out_s),
            }
        )

    pairs = (
        left.groupBy("__kb1", "__kb2")
        .cogroup(right.groupBy("__kb1", "__kb2"))
        .applyInPandas(gemm, schema)
    )
    # round JVM-side (HALF_UP, matches DuckDB round()) — not numpy's
    # half-even — so the oracle's rounded values agree bit-for-bit
    return pairs.select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))


def ann_cosine_pairs_lsh(
    emb: DataFrame,
    threshold: float,
    n_bits: int = 16,
    n_bands: int = 8,
    seed: int = 0x5EED,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate all-pairs cosine >= threshold: random-hyperplane LSH
    candidates + exact cosine verification. The 100 TB near-dup path —
    effective at high thresholds (>= ~0.7, where sign-agreement
    probability 1 - theta/pi is large); recall is pinned by pytest on
    planted near-duplicates, never oracle-checked (probabilistic).

    Plan: one mapInArrow pass signs each vector against n_bands*n_bits
    fixed hyperplanes (deterministic seed — resumable) and emits one
    (band, bucket) row per band; the shuffle key is the bucket, the
    self-join is an equi-join within buckets, and the first-shared-band
    predicate (same trick as MinHash, dedup.py) keeps each pair once
    without a dropDuplicates shuffle. Exact cosine re-verifies every
    candidate, so precision is 1.0 — only recall is approximate.
    """
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    dim = len(
        emb.select(vec_col).limit(1).collect()[0][0]
    )  # one-row probe, not a table scan
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_bands * n_bits, dim))

    sig_schema = T.StructType(
        [
            T.StructField("__id", T.LongType(), False),
            T.StructField("__vec", T.ArrayType(T.DoubleType()), False),
            T.StructField("__band", T.IntegerType(), False),
            T.StructField("__bucket", T.LongType(), False),
            T.StructField("__sig", T.ArrayType(T.LongType()), False),
        ]
    )
    i_id, i_vec = 0, 1
    weights = (1 << np.arange(n_bits, dtype=np.uint64)).astype(np.uint64)

    def sign(batches):
        for rb in batches:
            ids = rb.column(i_id).to_numpy(zero_copy_only=False).astype(np.int64)
            if len(ids) == 0:
                continue
            V = np.array(rb.column(i_vec).to_pylist(), dtype=np.float64)
            V /= np.linalg.norm(V, axis=1, keepdims=True)
            bits = (V @ planes.T) >= 0  # (n, bands*bits)
            buckets = (
                bits.reshape(len(ids), n_bands, n_bits).astype(np.uint64) @ weights
            ).astype(np.int64)  # (n, bands)
            for band in range(n_bands):
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(ids),
                        pa.array(V.tolist()),
                        pa.array(np.full(len(ids), band, dtype=np.int32)),
                        pa.array(buckets[:, band]),
                        pa.array(buckets.tolist()),
                    ],
                    names=["__id", "__vec", "__band", "__bucket", "__sig"],
                )

    sigs = emb.select(
        F.col(id_col).cast("long"), F.col(vec_col)
    ).mapInArrow(sign, sig_schema)

    a = sigs.select(
        F.col("__band").alias("b"),
        F.col("__bucket").alias("k"),
        F.col("__id").alias("id_a"),
        F.col("__vec").alias("__va"),
        F.col("__sig").alias("__sa"),
    )
    b = sigs.select(
        F.col("__band").alias("b"),
        F.col("__bucket").alias("k"),
        F.col("__id").alias("id_b"),
        F.col("__vec").alias("__vb"),
        F.col("__sig").alias("__sb"),
    )
    # first-shared-band: count the pair only in the lowest band whose
    # buckets collide — no post-hoc dedup shuffle
    first_shared = F.forall(
        F.sequence(F.lit(0), F.col("b") - 1),
        lambda i: F.element_at(F.col("__sa"), i + 1)
        != F.element_at(F.col("__sb"), i + 1),
    )
    cand = a.join(b, ["b", "k"]).filter(
        (F.col("id_a") < F.col("id_b")) & ((F.col("b") == 0) | first_shared)
    )
    sim = _cosine(F.col("__va"), F.col("__vb"))
    return (
        cand.withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", F.round("cos_sim", 4).alias("cos_sim"))
    )


def kmeans_anchors(
    emb: DataFrame,
    k: int,
    iters: int = 3,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Spherical k-means anchors (anchor_id, anchor_vec) for the IVF
    index: deterministic init (first ``k`` vectors by id), then Lloyd
    iterations — assign each vector to its max-cosine anchor
    (broadcast anchors, one window argmax), recompute each anchor as
    the per-dimension mean of its bucket (``k * dim`` plain ``avg``
    aggregates, pure Column, map-side partial).  Centroids are NOT
    re-normalized: cosine's own normalization makes the argmax
    invariant to centroid scale.

    Deterministic end to end (init by id, ties broken by anchor id),
    so the anchors — and any IVF result built on them — are stable
    across runs and cluster sizes.  Each iteration is one shuffle on
    the anchor key; lineage is cut per round with a
    :func:`..session.barrier`.
    Empty buckets keep their previous centroid (coalesce on the join).
    """
    anchors = barrier(
        emb.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(
            F.row_number()
            .over(Window.orderBy(F.col(id_col).asc()))
            .alias("anchor_id"),
            F.col(vec_col).alias("anchor_vec"),
        )
    )
    for _ in range(iters):
        assigned = _assign_nearest_anchor(emb, anchors, id_col, vec_col).select(
            "anchor_id", vec_col
        )
        means = assigned.groupBy("anchor_id").agg(
            F.array(
                *[F.avg(F.col(vec_col)[i]) for i in range(dim)]
            ).alias("new_vec")
        )
        anchors = barrier(
            anchors.join(means, "anchor_id", "left").select(
                "anchor_id",
                F.coalesce("new_vec", "anchor_vec").alias("anchor_vec"),
            )
        )
    return anchors


def _assign_nearest_anchor(
    emb: DataFrame, anchors: DataFrame, id_col: str, vec_col: str
) -> DataFrame:
    """(id, vec, anchor_id) — each vector's max-cosine anchor, ties to
    the smallest anchor id.  ``max_by`` with a (sim, -anchor_id)
    ordering struct instead of crossJoin + Window.partitionBy(id):
    the window shape shuffles |emb| * k rows (the whole expanded
    cross product) just to pick one per id, while max_by is a
    map-side-combinable aggregate — only |emb| partial rows reach the
    exchange, and no anchor-count multiplier ever hits the wire."""
    aj = emb.crossJoin(F.broadcast(anchors)).withColumn(
        "a_sim", _cosine(F.col(vec_col), F.col("anchor_vec"))
    )
    best = aj.groupBy(id_col).agg(
        F.max_by(
            F.struct(
                F.col("anchor_id").alias("anchor_id"),
                F.col(vec_col).alias("v"),
            ),
            F.struct(F.col("a_sim"), (-F.col("anchor_id")).alias("na")),
        ).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.v").alias(vec_col),
        F.col("__b.anchor_id").alias("anchor_id"),
    )


def ann_cosine_ivf(
    emb: DataFrame,
    queries: DataFrame,
    k: int,
    n_anchors: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id: str = "q_id",
    q_vec: str = "q_vec",
    anchors: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: assign vectors to their nearest anchor (the first
    ``n_anchors`` vectors by id — deterministic, broadcastable), probe
    the query's ``n_probe`` nearest anchor buckets, exact cosine within.
    Pass ``anchors`` (e.g. :func:`kmeans_anchors`) to replace the
    first-by-id centroids with refined ones — better-balanced buckets
    raise recall at the same n_probe and smooth the bucket-size skew
    the shuffle keys on.

    The scale path: the shuffle key is the anchor bucket, candidate
    set is |data| * n_probe / n_anchors per query instead of |data|.
    Approximate — recall measured in pytest against ann_cosine_topk.
    """
    emb = fanout_small_scan(emb)
    if anchors is None:
        anchors = (
            emb.orderBy(F.col(id_col).asc())
            .limit(n_anchors)
            .select(
                F.col(id_col).alias("anchor_id"),
                F.col(vec_col).alias("anchor_vec"),
            )
        )
    # data-side assignment is max_by (map-side-combinable), not a
    # window over the expanded cross product — see _assign_nearest_anchor
    assigned = _assign_nearest_anchor(emb, anchors, id_col, vec_col).select(
        id_col, vec_col, "anchor_id"
    )
    # query-side probe wants top-n_probe (not argmax) over a SMALL
    # broadcastable side; the window over |q| * k rows is fine here
    qj = queries.crossJoin(F.broadcast(anchors))
    wq = Window.partitionBy(q_id).orderBy(F.col("a_sim").desc(), F.col("anchor_id").asc())
    q_probe = (
        qj.withColumn("a_sim", _cosine(F.col(q_vec), F.col("anchor_vec")))
        .withColumn("r", F.row_number().over(wq))
        .filter(F.col("r") <= n_probe)
        .select(q_id, q_vec, "anchor_id")
    )
    cand = assigned.join(F.broadcast(q_probe), "anchor_id")
    wk = Window.partitionBy(q_id).orderBy(F.col("cos_sim").desc(), F.col(id_col).asc())
    return (
        cand.withColumn("cos_sim", _cosine(F.col(vec_col), F.col(q_vec)))
        .withColumn("rank", F.row_number().over(wk))
        .filter(F.col("rank") <= k)
        .select(q_id, F.col(id_col), F.round("cos_sim", 4).alias("cos_sim"), "rank")
    )
