"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship mine→encode→PIP→tile pipeline at
sf0.001; ``queries()`` exposes every implemented operator from
SURVEY.md §2 (plus the training-data ops); ``oracle_sql()`` holds the
DuckDB twins. Column names are aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmquadtreepostgis_spark import quadtree as qt
from osmquadtreepostgis_spark.functions import text as TX
from osmquadtreepostgis_spark.functions.cells import cell_encode_udf, cell_parent_col
from osmquadtreepostgis_spark.functions.sketches import (
    MINHASH_DOM,
    MINHASH_P,
    minhash_params,
    sql_md5_int64,
    sql_word_shingles,
)
from osmquadtreepostgis_spark.operators import dedup as DD
from osmquadtreepostgis_spark.operators import knn as KNN
from osmquadtreepostgis_spark.operators import routing as RT
from osmquadtreepostgis_spark.operators import tfidf as TFIDF
from osmquadtreepostgis_spark.operators.mine import mine_gazetteer_terms
from osmquadtreepostgis_spark.operators.pip import pip_join_shuffle, pip_probe_arrow
from osmquadtreepostgis_spark.plans import elements as EL
from osmquadtreepostgis_spark.plans.pipeline import (
    CELL_DEPTH,
    TILE_DEPTH,
    doc_coords,
    documents_pipeline,
    fixture_polygon_index,
    load_table,
    sql_doc_coords,
)
from osmquadtreepostgis_spark.sources import fixtures
from osmquadtreepostgis_spark.sources.gazetteer import VOCAB_GAZETTEER, sql_values
from osmquadtreepostgis_spark.deploy import ensure_workers_can_import
from osmquadtreepostgis_spark.streaming.stream import (
    run_stream_to_completion,
    stream_events_windowed,
)

_LON, _LAT = sql_doc_coords("doc_id")
_X18, _Y18 = qt.sql_tile_xy("lon", "lat", CELL_DEPTH)
_PACK18 = qt.sql_pack_xy("x", "y", CELL_DEPTH)

# shared oracle CTEs
_DOCS_CTE = f"""docs AS (
  SELECT doc_id, text, lang, source, n_chars,
         {_LON} AS lon, {_LAT} AS lat
  FROM documents
)"""
_CELLS_CTE = f"""cells AS (
  SELECT doc_id, lon, lat, n_chars, {_X18} AS x, {_Y18} AS y FROM docs
)"""
_ENC_CTE = f"""enc AS (
  SELECT doc_id, lon, lat, n_chars, {_PACK18} AS cell,
         {qt.sql_cell_parent(_PACK18, TILE_DEPTH)} AS tile
  FROM cells
)"""
_BOXES = fixtures.sql_box_values("p")
_PIP_ON = "d.lon >= p.xmin AND d.lon < p.xmax AND d.lat >= p.ymin AND d.lat < p.ymax"
_GAZ = sql_values(VOCAB_GAZETTEER, "g")


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    ensure_workers_can_import(spark)
    return documents_pipeline(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# spark queries


def _docs(spark, sf):
    return load_table(spark, sf, "documents")


def _utc(spark):
    """Epoch math on NTZ timestamps is session-TZ-dependent; pin UTC so
    Spark and the DuckDB oracle agree regardless of driver config."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark


def q_cell_encode(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id"))
    return d.withColumn("cell", cell_encode_udf(CELL_DEPTH)("lon", "lat")).withColumn(
        "tile", cell_parent_col("cell", TILE_DEPTH)
    )


def q_sql_surface_cells(spark, sf):
    """The SQL ST_* surface end-to-end through spark.sql: encode +
    guarded tile + z_order/minzoom as registered SQL scalar functions
    (pure Catalyst — the plan has no Python nodes). Same frozen keys
    as the pandas-UDF path; the oracle expands the identical math."""
    from osmquadtreepostgis_spark.plans.sql_surface import register_sql_functions

    register_sql_functions(spark)
    d = doc_coords(_docs(spark, sf).select("doc_id"))
    d.createOrReplaceTempView("__sqlsurf_docs")
    # compute the encode ONCE in a subquery: each st_point_to_cell call
    # inlines a large expression tree (trig + magic-mask spread), and
    # while runtime subexpression elimination handles duplicates, the
    # one-time analysis/codegen cost scales with tree size (measured 3x
    # on the triple-call form)
    return spark.sql(
        f"""
        SELECT doc_id, cell,
               st_cell_tile(cell, {TILE_DEPTH}) AS tile,
               st_cell_depth(cell) AS cell_depth
        FROM (SELECT doc_id,
                     st_point_to_cell(lon, lat, {CELL_DEPTH}) AS cell
              FROM __sqlsurf_docs)"""
    )


def q_tile_agg(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id", "n_chars"))
    enc = d.withColumn("cell", cell_encode_udf(CELL_DEPTH)("lon", "lat")).withColumn(
        "tile", cell_parent_col("cell", TILE_DEPTH)
    )
    return enc.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.countDistinct("cell").alias("n_cells"),
    )


def q_pip_points_in_boxes(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id"))
    return pip_probe_arrow(d, fixture_polygon_index()).select("doc_id", "poly_id")


def q_pip_shuffle_cover(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id"))
    polys = fixtures.polygons_df(spark)
    return pip_join_shuffle(d, polys, depth=6).select("doc_id", "poly_id")


def q_mine_entities(spark, sf):
    return mine_gazetteer_terms(_docs(spark, sf))


def q_flagship_tiles(spark, sf):
    return documents_pipeline(spark, sf)


def q_knn_exact(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id")).select(
        F.col("doc_id").alias("p_id"), "lon", "lat"
    )
    q = doc_coords(
        _docs(spark, sf).select("doc_id").filter(F.col("doc_id") % 50 == 0)
    ).select(F.col("doc_id").alias("q_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    return KNN.knn_exact(q, d, k=5, q_id="q_id", p_id="p_id").select(
        "q_id", "p_id", "rank"
    )


def q_knn_grid(spark, sf):
    """The scale path, oracle-checked against the SAME exact-kNN SQL:
    grid candidates with the radius-expansion guarantee (ring doubles
    until the k-th distance is strictly inside the ring boundary).
    depth=10 makes round-1 rings genuinely insufficient for sparse
    queries, so the expansion path is what the oracle certifies."""
    d = doc_coords(_docs(spark, sf).select("doc_id")).select(
        F.col("doc_id").alias("p_id"), "lon", "lat"
    )
    q = doc_coords(
        _docs(spark, sf).select("doc_id").filter(F.col("doc_id") % 50 == 0)
    ).select(F.col("doc_id").alias("q_id"), F.col("lon").alias("q_lon"), F.col("lat").alias("q_lat"))
    return KNN.knn_grid_guaranteed(
        q, d, k=5, depth=10, max_rounds=2, q_id="q_id", p_id="p_id"
    ).select("q_id", "p_id", "rank")


def q_routing_extended(spark, sf):
    el = EL.elements_df(_docs(spark, sf))
    z = RT.z_order_col(F.col("tags"))
    routed = RT.explode_routes(
        el.withColumn("z_order", z).withColumn(
            "osm_id", RT.signed_osm_id(F.col("osm_id"), F.col("geom_type"))
        ),
        RT.route_extended(F.col("geom_type"), F.col("tags"), F.col("z_order")),
    )
    return routed.select("osm_id", "table")


def q_tag_pivot_residual(spark, sf):
    el = EL.elements_df(_docs(spark, sf))
    piv = RT.pivot_tags(el, ["highway", "building"])
    return piv.withColumn(
        "n_other", F.size(RT.other_tags(F.col("tags"), ["highway", "building"]))
    ).select("osm_id", "highway", "building", F.col("n_other").cast("long").alias("n_other"))


def q_style_spec_routing(spark, sf):
    """Style-driven spec construction end-to-end (the reference's
    postgis_columns surface, __init__.py:39-131): build table specs
    from a Style (catch-all mode: other_keys=None -> explicit extra
    cols + residual hstore), route + pivot the elements through
    apply_table_specs, and project the 'line' table's scalar columns.
    Covers the Layer column source (try_cast(tags['layer'] as long),
    src/postgiswriter.cpp:458-461) incl. its non-numeric->NULL path,
    and the C++ tag_cols rule that the raw layer TAG stays in the
    OtherTags residual."""
    from osmquadtreepostgis_spark.plans.specs import (
        Style,
        apply_table_specs,
        build_table_specs,
    )

    el = EL.elements_df(_docs(spark, sf))
    style = Style(feature_keys=("highway", "building", "boundary"))
    specs = build_table_specs(
        style,
        add_min_zoom=True,
        extended=True,
        extra_node_cols=["name", "layer"],
        extra_way_cols=["name", "layer"],
    )
    tables = apply_table_specs(el, specs, extended=True)
    line = tables["line"]
    return line.select(
        "osm_id",
        "boundary",
        "building",
        "highway",
        "name",
        "layer",
        "z_order",
        "minzoom",
        F.size("tags").cast("long").alias("n_other"),
    )


def q_zorder_minzoom(spark, sf):
    el = EL.elements_df(_docs(spark, sf))
    return el.select(
        "osm_id",
        RT.z_order_col(F.col("tags")).alias("z_order"),
        RT.minzoom_col(F.col("tags"), F.col("geom_type"), F.col("way_area")).alias(
            "minzoom"
        ),
    )


def q_raster_vectorize(spark, sf):
    """Raster<->vector tile aggregation (the north rule's phrase, made
    literal): rasterize doc points into depth-6 cell counts (pure-JVM
    generated-SQL encode, one hash-agg shuffle), threshold, then
    vectorize each surviving cell back to its bounding box via the
    magic-mask Morton compress. lon bounds and dyadic v bounds are
    bit-identical across engines (no trig in the compared columns)."""
    from osmquadtreepostgis_spark.operators.pyramid import (
        rasterize_points,
        vectorize_cells,
    )

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    # depth 4 (256 cells) keeps the thresholded result NON-VACUOUS at
    # every SF (hash-uniform coords: ~2 docs/cell at sf0.01 -> ~90
    # cells pass min_count=3; depth 6 yielded 0 rows = a vacuous check)
    raster = rasterize_points(d, depth=4)
    return vectorize_cells(raster, depth=4, min_count=3).select(
        "cell", "n", "x", "y", "lon_min", "lon_max", "v_min", "v_max"
    )


def q_pyramid_counts(spark, sf):
    d = doc_coords(_docs(spark, sf).select("doc_id"))
    enc = d.withColumn("cell", cell_encode_udf(CELL_DEPTH)("lon", "lat"))
    out = None
    for depth in (6, 9, 11):
        lvl = (
            enc.withColumn("tile", cell_parent_col("cell", depth))
            .groupBy("tile")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("zoom", F.lit(depth).cast("long"))
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.select("zoom", "tile", "n")


def q_union_roads(spark, sf):
    el = EL.elements_df(_docs(spark, sf)).withColumn(
        "z_order", RT.z_order_col(F.col("tags"))
    )
    el = el.withColumn(
        "osm_id", RT.signed_osm_id(F.col("osm_id"), F.col("geom_type"))
    )
    hw = (
        el.filter((F.col("geom_type") == "linestring") & F.col("z_order").isNotNull())
        .select("osm_id", F.lit("highway").alias("src"), "z_order")
    )
    bd = (
        el.filter(
            (F.col("osm_id") < 0)
            & (F.element_at(F.col("tags"), "boundary") == "administrative")
        )
        .select("osm_id", F.lit("boundary").alias("src"), F.lit(0).cast("long").alias("z_order"))
    )
    return hw.unionByName(bd)


def _dec_sum(col, alias):
    return F.round(F.sum(col.cast("decimal(18,4)")).cast("double"), 4).alias(alias)


def q_pricing_summary(spark, sf):
    _utc(spark)
    li = load_table(spark, sf, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # compare against a TIMESTAMP_NTZ literal: TZ-independent (the
    # column is NTZ) AND pushed down to the parquet scan — an epoch
    # function call here would defeat predicate pushdown
    cutoff = F.lit("1998-09-02 00:00:00").cast("timestamp_ntz")
    return (
        li.filter(F.col("l_shipdate") <= cutoff)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _dec_sum(F.col("l_quantity"), "sum_qty"),
            _dec_sum(F.col("l_extendedprice"), "sum_base_price"),
            _dec_sum(disc, "sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_revenue_by_nation(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders")
    li = load_table(spark, sf, "lineitem")
    n = load_table(spark, sf, "nation")
    r = load_table(spark, sf, "region")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name", "r_name")
        .agg(_dec_sum(rev, "revenue"), F.count(F.lit(1)).alias("n_items"))
    )


def q_top_orders_window(spark, sf):
    o = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "rank")
    )


def q_semi_anti_join(spark, sf):
    c = load_table(spark, sf, "customer")
    o = load_table(spark, sf, "orders").select("o_custkey")
    w = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_with"))
    )
    wo = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_without"))
    )
    return w.join(wo, "c_mktsegment", "full_outer").select(
        "c_mktsegment",
        F.coalesce("n_with", F.lit(0)).alias("n_with"),
        F.coalesce("n_without", F.lit(0)).alias("n_without"),
    )


def q_events_sessionize(spark, sf):
    _utc(spark)
    e = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        e.withColumn("new_s", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_s").cast("long").alias("n_sessions"),
             F.count(F.lit(1)).alias("n_events"))
    )


def q_events_window_agg(spark, sf):
    _utc(spark)
    e = load_table(spark, sf, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), _dec_sum(F.col("value"), "sum_value"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("win_start"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def q_stream_stateful_sessionize(spark, sf):
    """Custom stateful streaming op (applyInPandasWithState): per-user
    sessionization with explicit state; equals the batch window
    formulation, so it shares that oracle."""
    _utc(spark)
    from osmquadtreepostgis_spark.streaming.stream import (
        stream_sessionize_stateful,
    )

    return run_stream_to_completion(
        stream_sessionize_stateful(spark, sf), name="q_stream_sessionize"
    )


def q_stream_events_window(spark, sf):
    _utc(spark)
    return run_stream_to_completion(
        stream_events_windowed(spark, sf), name="q_stream_events_window"
    )


def q_dedup_exact(spark, sf):
    return DD.dedup_exact(_docs(spark, sf))


def q_stream_dedup_exact(spark, sf):
    """Streaming exact dedup: stateful fingerprint-keyed aggregate
    over the documents file stream; order-independent state
    (min(doc_id), count-1) makes the bounded-input answer equal the
    batch operator for any micro-batch schedule."""
    from osmquadtreepostgis_spark.streaming.stream import stream_dedup_exact

    return run_stream_to_completion(
        stream_dedup_exact(spark, sf), name="q_stream_dedup_exact"
    )


def q_stream_curate(spark, sf):
    """Streaming curation composition (streaming/stream.py
    stream_curate): C4 quality + Gopher repetition rules fused
    STATELESS into the documents file stream, exact dedup (120-bit
    fingerprint, order-independent min-id state) over the survivors —
    the continuous-ingest twin of curate_corpus's rule + exact-dedup
    stages."""
    from osmquadtreepostgis_spark.streaming.stream import stream_curate

    return run_stream_to_completion(
        stream_curate(spark, sf), name="q_stream_curate"
    )


def q_dedup_ngram_jaccard(spark, sf):
    return DD.ngram_jaccard_pairs(_docs(spark, sf), threshold=0.5, n=3)


def q_hash_embeddings(spark, sf):
    """Feature-hashed doc embeddings (model-free, signed bucket counts
    L2-normalized), exploded to (doc_id, j, val) scalar rows for
    robust value-hash comparison."""
    from osmquadtreepostgis_spark.functions.embed import hash_embeddings_frame

    return (
        hash_embeddings_frame(_docs(spark, sf), dim=64)
        .select("doc_id", F.posexplode("embedding").alias("j", "v"))
        .select(
            "doc_id",
            F.col("j").cast("long").alias("j"),
            F.round("v", 4).alias("val"),
        )
    )


def q_text_near_dup(spark, sf):
    """Model-free embedding near-dup over TEXT: feature-hash each doc
    (functions/embed.py) and run the distributed block-pair cogroup
    GEMM, keeping pairs whose 4dp-ROUNDED cosine >= 0.92. The inner
    GEMM threshold is slightly lower (0.9199) and the boundary
    decision happens on the rounded value in BOTH engines: at sf0.1
    the raw nearest-pair margin is only ~1e-6 (12.5M candidate pairs),
    but flipping a rounded row needs fp jitter across a 5e-5 rounding
    boundary — ~1e-16 in practice. Composes the two families:
    text -> embedding -> exact all-pairs."""
    from osmquadtreepostgis_spark.functions.embed import hash_embeddings_frame

    emb = hash_embeddings_frame(_docs(spark, sf), dim=64).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    pairs = KNN.ann_cosine_pairs_grid(emb, threshold=0.9199, block_rows=3072)
    return pairs.filter(F.col("cos_sim") >= 0.92)


def q_image_near_dup(spark, sf):
    """Multimodal near-dup composition: opaque binary payloads (utf-8
    bytes of the ASCII fixture text standing in for image bytes) ->
    byte-histogram features (functions/multimodal.py, one bincount per
    Arrow batch) -> the SAME distributed block-pair cogroup GEMM the
    text path uses. Threshold decided on the 4dp-rounded cosine in
    both engines (min raw boundary margin 6e-8 at sf0.1 vs ~1e-15
    engine fp skew). Oracle trick: cosine is scale-invariant, so the
    DuckDB twin works on raw integer byte counts via a sparse
    bucket-join — no dense 64-vector construction in SQL."""
    from osmquadtreepostgis_spark.functions.multimodal import (
        byte_histogram_features,
    )

    d = _docs(spark, sf).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    emb = byte_histogram_features(d, dim=64).select(
        F.col("doc_id").alias("vec_id"), F.col("features").alias("embedding")
    )
    pairs = KNN.ann_cosine_pairs_grid(emb, threshold=0.9994, block_rows=3072)
    return pairs.filter(F.col("cos_sim") >= 0.9995)


def q_corpus_stats(spark, sf):
    """Dataset-card corpus report (operators/corpus.py)."""
    from osmquadtreepostgis_spark.operators.corpus import corpus_stats

    return corpus_stats(_docs(spark, sf))


def q_curate_corpus(spark, sf):
    """End-to-end curation audit (plans/curation.py): C4 quality +
    Gopher repetition rules, incremental dedup vs the doc_id<100
    'existing corpus', then exact-Jaccard clustering with min-id
    survivors — one auditable row per curated doc."""
    from osmquadtreepostgis_spark.plans.curation import curate_corpus

    docs = _docs(spark, sf)
    return curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
    )


def q_curate_corpus_minhash(spark, sf):
    """curate_corpus with pair_mode='minhash_verified' — the 100 TB
    self-dedup shape: MinHash band shuffle proposes candidates, exact
    Jaccard verifies them (plans/curation.py). On this fixture LSH
    recalls every true pair, so the output (and oracle) equals the
    exact mode."""
    from osmquadtreepostgis_spark.plans.curation import curate_corpus

    docs = _docs(spark, sf)
    return curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
        pair_mode="minhash_verified",
    )


def q_url_normalize(spark, sf):
    """URL canonicalization over deterministically synthesized messy
    urls (three shapes: uppercase host + default port + tracking
    params + fragment; userinfo + :80; already-clean): normalized key,
    host, and registered domain (public-suffix-lite)."""
    from osmquadtreepostgis_spark.functions.urls import (
        normalize_url,
        registered_domain,
        url_host,
    )

    d = _docs(spark, sf)
    k = (F.col("doc_id") % 23).cast("string")
    i = F.col("doc_id").cast("string")
    b = (F.col("doc_id") % 5).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://News.Site"), k, F.lit(".Example.CO.UK:443/p/"),
                i, F.lit("?utm_source=x&b="), b, F.lit("&a=1#sec"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("http://user:pw@Host"), k, F.lit(".example.com:80/q/"),
                i, F.lit("?z=9&fbclid=ff"),
            ),
        )
        .otherwise(
            F.concat(F.lit("https://blog.site"), k, F.lit(".org/a/"), i)
        )
    )
    return d.select(
        "doc_id",
        normalize_url(url).alias("url_norm"),
        url_host(url).alias("host"),
        registered_domain(url).alias("domain"),
    )


def q_dedup_url(spark, sf):
    """Canonical-URL exact dedup — the first stage of every
    Common-Crawl-style recrawl pipeline (dedup before any content
    machinery runs; reference analog: element-id dedup on re-import,
    /root/reference/osmquadtreepostgis/__init__.py import path).

    Three messy surface forms per planted group (uppercase host +
    default port + tracking params + fragment; userinfo; already
    clean) all normalize to the SAME canonical URL; survivor is the
    deterministic min doc_id per key, with the duplicate count kept
    for audit. Pure normalize→groupBy: one hash shuffle on the
    canonical key, map-side partial aggregation — the exact shape that
    holds at 10^12 rows."""
    from osmquadtreepostgis_spark.functions.urls import normalize_url

    d = _docs(spark, sf)
    base = F.col("doc_id") % 149
    k = (base % 37).cast("string")
    b = base.cast("string")
    a = (base % 7).cast("string")
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("HTTPS://Site"), k, F.lit(".Example.ORG:443/item/"),
                b, F.lit("?utm_source=x&a="), a, F.lit("#frag"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("https://user:pw@site"), k, F.lit(".example.org/item/"),
                b, F.lit("?a="), a, F.lit("&fbclid=z"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://site"), k, F.lit(".example.org/item/"),
                b, F.lit("?a="), a,
            )
        )
    )
    return (
        d.select(F.col("doc_id"), normalize_url(url).alias("url_norm"))
        .groupBy("url_norm")
        .agg(
            F.min("doc_id").alias("survivor_doc_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
    )


def _dedup_url_oracle() -> str:
    url = (
        "(CASE WHEN doc_id % 3 = 0 THEN "
        "'HTTPS://Site' || cast((doc_id % 149) % 37 as varchar) || "
        "'.Example.ORG:443/item/' || cast(doc_id % 149 as varchar) || "
        "'?utm_source=x&a=' || cast((doc_id % 149) % 7 as varchar) || '#frag' "
        "WHEN doc_id % 3 = 1 THEN "
        "'https://user:pw@site' || cast((doc_id % 149) % 37 as varchar) || "
        "'.example.org/item/' || cast(doc_id % 149 as varchar) || "
        "'?a=' || cast((doc_id % 149) % 7 as varchar) || '&fbclid=z' "
        "ELSE 'https://site' || cast((doc_id % 149) % 37 as varchar) || "
        "'.example.org/item/' || cast(doc_id % 149 as varchar) || "
        "'?a=' || cast((doc_id % 149) % 7 as varchar) END)"
    )
    from osmquadtreepostgis_spark.functions.urls import sql_normalize_url

    return f"""
        SELECT {sql_normalize_url(url)} AS url_norm,
               min(doc_id) AS survivor_doc_id,
               count(*) AS n_dups
        FROM documents
        GROUP BY 1"""


def _psl_fixture_url():
    """Deterministic messy-host url per doc_id — ONE definition shared
    by q_domain_stats / q_domain_cap; the SQL twin is
    :func:`_psl_fixture_url_sql`, and both must stay byte-equivalent
    for the domain oracles to compare the same inputs."""
    k = (F.col("doc_id") % 23).cast("string")
    i = F.col("doc_id").cast("string")
    return (
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("https://www.site"), k, F.lit(".co.uk/p/"), i),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("https://host"), k, F.lit(".example.com/q/"), i),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("https://app"), k, F.lit(".github.io/r/"), i),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("https://bar"), k, F.lit(".www.ck/s/"), i),
        )
        .otherwise(
            F.concat(F.lit("https://a"), k, F.lit(".b"), k, F.lit(".ck/t/"), i)
        )
    )


def _psl_fixture_url_sql() -> str:
    return (
        "(CASE WHEN doc_id % 5 = 0 THEN "
        "'https://www.site' || cast(doc_id % 23 as varchar) || "
        "'.co.uk/p/' || cast(doc_id as varchar) "
        "WHEN doc_id % 5 = 1 THEN "
        "'https://host' || cast(doc_id % 23 as varchar) || "
        "'.example.com/q/' || cast(doc_id as varchar) "
        "WHEN doc_id % 5 = 2 THEN "
        "'https://app' || cast(doc_id % 23 as varchar) || "
        "'.github.io/r/' || cast(doc_id as varchar) "
        "WHEN doc_id % 5 = 3 THEN "
        "'https://bar' || cast(doc_id % 23 as varchar) || "
        "'.www.ck/s/' || cast(doc_id as varchar) "
        "ELSE 'https://a' || cast(doc_id % 23 as varchar) || "
        "'.b' || cast(doc_id % 23 as varchar) || "
        "'.ck/t/' || cast(doc_id as varchar) END)"
    )


def q_domain_stats(spark, sf):
    """Per-registered-domain page/host stats through the TABLE-DRIVEN
    public-suffix path (functions/urls.py:with_registered_domain +
    psl_frame): synthesized hosts exercise all three PSL rule forms —
    plain (`co.uk`, `com`), wildcard (`*.ck`), exception (`!www.ck`)
    — resolved by candidate-suffix explode over DISTINCT hosts and a
    broadcast rule join, exception-beats-all else longest-match."""
    from osmquadtreepostgis_spark.functions.urls import (
        psl_frame,
        url_host,
        with_registered_domain,
    )

    d = _docs(spark, sf)
    pages = d.select("doc_id", _psl_fixture_url().alias("url"))
    out = with_registered_domain(pages, "url", psl=psl_frame(spark))
    return (
        out.select(url_host("url").alias("host"), "registered_domain")
        .groupBy(F.col("registered_domain").alias("domain"))
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.countDistinct("host").alias("n_hosts"),
        )
    )


def q_domain_cap(spark, sf):
    """Per-registered-domain rate cap (operators/corpus.py
    cap_per_key): keep the top-5 docs per domain by (quality desc,
    doc_id asc) via the exact two-phase salted top-n — NOT a
    key-partitioned window, which a hot domain would make
    unsplittable at web scale. Domains come through the table-driven
    PSL path; the oracle is a row_number window (fine at oracle
    scale)."""
    from osmquadtreepostgis_spark.functions.urls import (
        psl_frame,
        with_registered_domain,
    )
    from osmquadtreepostgis_spark.operators.corpus import cap_per_key

    d = _docs(spark, sf)
    pages = d.select(
        "doc_id",
        _psl_fixture_url().alias("url"),
        TX.quality_score("text").alias("q"),
    )
    dom = with_registered_domain(pages, "url", psl=psl_frame(spark)).select(
        "doc_id", "q", F.col("registered_domain").alias("domain")
    )
    return cap_per_key(
        dom,
        "domain",
        [(-F.col("q")).alias("nq"), F.col("doc_id").alias("i")],
        n=5,
    ).select("doc_id", "domain", "q", F.col("rank").cast("long").alias("rank"))


def q_repetition_signals(spark, sf):
    """Gopher-style repetition quality signals per document (line
    delimiter ' ' so token repeats exercise the duplicate-line path
    non-vacuously on the single-line synthetic corpus)."""
    from osmquadtreepostgis_spark.functions.repetition import (
        dup_line_char_frac,
        dup_line_frac,
        dup_ngram_frac,
        top_ngram_frac,
    )

    return _docs(spark, sf).select(
        "doc_id",
        F.round(dup_line_frac("text", " "), 4).alias("dup_line_frac"),
        F.round(dup_line_char_frac("text", " "), 4).alias("dup_line_char_frac"),
        F.round(top_ngram_frac("text", 2), 4).alias("top_2gram_frac"),
        F.round(dup_ngram_frac("text", 2), 4).alias("dup_2gram_frac"),
    )


_HTML_PRE = "<html><!-- c --><head><script>1<2</script></head><body><p>"
_HTML_POST = "</p></body></html>"


def q_html_extract(spark, sf):
    """HTML -> text extraction (the input_hint invariant, exercised on
    the shared sf tables): wrap each document's text in markup with
    entity escaping, extract it back pure-Catalyst, assert byte
    identity. Output: (doc_id, extracted, ok)."""
    from osmquadtreepostgis_spark.functions.html import escape_html, extract_text

    d = _docs(spark, sf)
    html = F.concat(
        F.lit(_HTML_PRE), escape_html(F.col("text")), F.lit(_HTML_POST)
    )
    ext = extract_text(html)
    return d.select(
        "doc_id",
        ext.alias("extracted"),
        (ext == F.col("text")).alias("ok"),
    )


def q_dedup_clusters(spark, sf):
    """Transitive duplicate-cluster resolution: exact n-gram Jaccard
    pairs -> connected components (alternating large/small-star, the
    O(log n)-round MapReduce CC) -> one survivor per cluster. One row
    per document: (doc_id, cluster_id, cluster_size, keep)."""
    from osmquadtreepostgis_spark.operators.cluster import resolve_duplicates

    docs = _docs(spark, sf)
    pairs = DD.ngram_jaccard_pairs(docs, threshold=0.5, n=3)
    return resolve_duplicates(docs.select("doc_id"), pairs)


def q_dedup_incremental(spark, sf):
    """Incremental corpus dedup: docs with doc_id >= 250 are the new
    batch, doc_id < 250 the existing corpus; a new doc is dropped when
    it is an n-gram-Jaccard near-dup (t=0.5) of ANY seen doc. The
    bipartite prefix-filtered join — no seen-vs-seen work."""
    docs = _docs(spark, sf)
    return DD.dedup_against(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        threshold=0.5,
        n=3,
    )


def q_dedup_incremental_minhash(spark, sf):
    """Incremental dedup via the band-shuffle candidate join + exact
    verification (dedup_against mode='minhash_verified'): the corpus
    side's signatures are batch-independent at scale. 32 hashes / 16
    bands (r=2): the fixture's weakest true pair has J=0.8889, so the
    per-pair LSH miss probability is (1-J^2)^16 ~ 1.4e-11 — the
    output equals the exact mode and shares its oracle."""
    docs = _docs(spark, sf)
    return DD.dedup_against(
        docs.filter(F.col("doc_id") >= 250),
        docs.filter(F.col("doc_id") < 250),
        threshold=0.5,
        n=3,
        mode="minhash_verified",
        n_hashes=32,
        bands=16,
    )


def q_dedup_spans(spark, sf):
    """Exact duplicate-substring spans (the passage-level training-data
    dedup): maximal per-doc token intervals covered by 5-grams that
    occur more than once in the corpus."""
    return DD.duplicate_spans(_docs(spark, sf), n=5)


def q_decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3 Appendix C shape): docs 400+
    are the held-out eval set, docs <400 the training corpus; a train
    doc is flagged when it shares any 5-gram with any eval doc, with
    interval-union token coverage and an overlap fraction. The eval
    gram set is broadcast — the 100 TB train side never shuffles until
    the per-doc rollup of hit positions."""
    docs = _docs(spark, sf)
    return DD.decontaminate(
        docs.filter(F.col("doc_id") < 400),
        docs.filter(F.col("doc_id") >= 400),
        n=5,
    )


def q_dedup_minhash_lsh(spark, sf):
    return DD.minhash_lsh_pairs(_docs(spark, sf), n_hashes=16, bands=4, n=3)


def q_dedup_simhash(spark, sf):
    return DD.simhash_pairs(_docs(spark, sf), max_hamming=3, n=2)


def q_embed_cosine_pairs(spark, sf):
    """Exact all-pairs cosine via the distributed block-pair cogroup
    GEMM (no driver-side materialization). Threshold 0.4 keeps the
    checked result non-empty at every SF (59 pairs at sf0.01, 920 at
    sf0.1) with >= 1e-4 margin to the nearest pair, so cross-engine fp
    jitter cannot flip a row."""
    emb = load_table(spark, sf, "embeddings")
    return KNN.ann_cosine_pairs_grid(emb, threshold=0.4, block_rows=2048)


def q_embed_topk(spark, sf):
    emb = load_table(spark, sf, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return KNN.ann_cosine_topk(emb, q, k=10).select("q_id", "vec_id", "rank")


def q_embed_quantize(spark, sf):
    """Int8 symmetric embedding quantization (the 4x shuffle/storage
    shrinker applied before ANN indexing at corpus scale) with
    integer-exact audit stats per vector: dequant scale in micro-units
    plus sum / sum-of-squares / min / max of the quantized components.
    Pure-Column transform+aggregate — no shuffle at all (narrow map),
    which is exactly why it's the stage to run FIRST at 10^12 vectors.
    Both engines execute the identical IEEE double pipeline
    (cast -> *127 -> /amax -> round-half-away) so the oracle is exact,
    not approximate."""
    from osmquadtreepostgis_spark.functions.embed import (
        quantize_embedding_int8,
        quantize_scale_micro,
    )

    emb = load_table(spark, sf, "embeddings")
    q = quantize_embedding_int8("embedding")
    zero = F.lit(0).cast("long")
    return emb.select(
        "vec_id",
        quantize_scale_micro("embedding").alias("scale_micro"),
        F.aggregate(q, zero, lambda a, v: a + v).alias("q_sum"),
        F.aggregate(q, zero, lambda a, v: a + v * v).alias("q_sumsq"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


def _embed_quantize_oracle() -> str:
    from osmquadtreepostgis_spark.functions.embed import (
        sql_quantize_embedding_int8,
        sql_quantize_scale_micro,
    )

    q = sql_quantize_embedding_int8("embedding")
    return f"""
        WITH qz AS (SELECT vec_id,
                           {sql_quantize_scale_micro('embedding')} AS scale_micro,
                           {q} AS q
                    FROM embeddings)
        SELECT vec_id, scale_micro,
               cast(list_sum(q) as bigint) AS q_sum,
               cast(list_sum(list_transform(q, v -> v * v)) as bigint)
                   AS q_sumsq,
               cast(list_min(q) as bigint) AS q_min,
               cast(list_max(q) as bigint) AS q_max
        FROM qz"""


def q_knn_label_eval(spark, sf):
    """kNN label-voting evaluation over the embeddings table (the
    labeled-holdout sanity check a training-data pipeline runs on its
    embedding space): exact cosine top-10 neighbors (self excluded)
    vote on the label, majority wins, ties -> smallest label; output
    per query: predicted vs true label. The vote is pure counting, so
    the only fp surface is the top-k ordering embed_topk already
    pins."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    top = KNN.ann_cosine_topk(emb, q, k=11)
    nb = top.filter(F.col("vec_id") != F.col("q_id")).join(
        emb.select("vec_id", "label"), "vec_id"
    )
    votes = nb.groupBy("q_id", "label").agg(F.count(F.lit(1)).alias("__n"))
    best = votes.groupBy("q_id").agg(F.max("__n").alias("__bn"))
    pred = (
        votes.join(best, "q_id")
        .filter(F.col("__n") == F.col("__bn"))
        .groupBy("q_id")
        .agg(F.min("label").alias("pred_label"))
    )
    truth = emb.select(
        F.col("vec_id").alias("q_id"), F.col("label").alias("true_label")
    ).filter(F.col("q_id") < 50)
    return pred.join(truth, "q_id").select(
        "q_id",
        F.col("pred_label").cast("long").alias("pred_label"),
        F.col("true_label").cast("long").alias("true_label"),
        (F.col("pred_label") == F.col("true_label")).alias("correct"),
    )


def q_embed_topk_ivf(spark, sf):
    """The ANN SCALE path (anchor-bucket shuffle) oracle-checked at a
    provably-exact config: with n_probe = n_anchors every query probes
    every bucket, and since each vector lives in exactly one bucket the
    candidate set is the full table — IVF degenerates to exact top-k,
    so the brute-force oracle is the true answer (recall 1.0 by
    construction, not by measurement). VERDICT r2 next-round #3; the
    approximate configs' recall stays pytest-pinned."""
    emb = load_table(spark, sf, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    )
    return KNN.ann_cosine_ivf(
        emb, q, k=10, n_anchors=16, n_probe=16
    ).select("q_id", "vec_id", "rank")


def q_fuzzy_name_lookup(spark, sf):
    """Trigram fuzzy name lookup (the reference's gin trigram index /
    ``name % 'query'`` analog): parts whose name is trigram-similar to
    the typo'd query — a pure-Column predicate, no join/shuffle."""
    from osmquadtreepostgis_spark.operators.fuzzy import name_similar

    part = load_table(spark, sf, "part")
    return name_similar(part, "smal widgett", 0.35, name_col="p_name").select(
        "p_partkey", "similarity"
    )


def q_fuzzy_name_pairs(spark, sf):
    """Trigram-similar name pairs across a table (typo/near-dup name
    detection) via the shared prefix-filtered set-Jaccard join."""
    from osmquadtreepostgis_spark.operators.fuzzy import similar_name_pairs

    nation = load_table(spark, sf, "nation")
    return similar_name_pairs(
        nation, 0.7, name_col="n_name", id_col="n_nationkey"
    )


def q_quality_filter(spark, sf):
    """C4-style auditable quality rules (corpus curation): per-rule
    booleans + keep, all RE2-safe so the oracle matches exactly."""
    from osmquadtreepostgis_spark.operators.corpus import quality_filter

    return quality_filter(_docs(spark, sf), min_words=20).select(
        "doc_id", "r_min_words", "r_max_mean_wl", "r_min_mean_wl",
        "r_symbol_ratio", "keep",
    )


def q_sample_stratified(spark, sf):
    """Deterministic stratified sampling (data mixing): per-lang rates
    via the portable md5-int64 bucket — reproducible across runs and
    cluster sizes, oracle-identical."""
    from osmquadtreepostgis_spark.operators.corpus import sample_stratified

    return sample_stratified(
        _docs(spark, sf),
        rates={"en": 0.5, "de": 0.25, "fr": 1.0},
        key="lang",
        salt=7,
    ).select("doc_id", "lang")


def q_text_analysis(spark, sf):
    d = _docs(spark, sf)
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{4,}"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_re"),
        TX.subword_token_count("text").alias("n_subword_tokens"),
        TX.lang_id("text").alias("lang_pred"),
        TX.quality_score("text").alias("quality"),
        TX.fingerprint("text").alias("fp"),
    )


def q_diverse_sample(spark, sf):
    """Embedding-space diversity sampling: deterministic random-
    hyperplane buckets (functions/embed.py — integer-quantized dot
    products, bit-identical sign bits in both engines) + the
    skew-safe per-key cap (corpus.cap_per_key, n=2 per bucket). No
    neighborhood over-contributes: near-duplicate embeddings share a
    bucket, so at most 2 survive per cosine region."""
    from osmquadtreepostgis_spark.functions.embed import hyperplane_buckets_frame
    from osmquadtreepostgis_spark.operators.corpus import cap_per_key

    emb = hyperplane_buckets_frame(load_table(spark, sf, "embeddings"))
    return cap_per_key(
        emb, "bucket", [F.col("vec_id").alias("i")], n=2
    ).select("vec_id", "bucket", F.col("rank").cast("long").alias("rank"))


def q_cdc_dedup(spark, sf):
    """Content-defined-chunk share detection (functions/cdc.py): a
    TRUE polynomial rolling hash cuts each doc into content-defined
    chunks (boundaries survive shifts/edits, unlike fixed blocks);
    chunks shared by >= 2 docs corpus-wide mark duplicated passages.
    Per doc: chunk count, shared-chunk count, tokens in shared
    chunks. Share detection = one chunk_hash groupBy + a semi join."""
    from osmquadtreepostgis_spark.functions.cdc import cdc_chunks

    ch = cdc_chunks(_docs(spark, sf))
    shared = (
        ch.groupBy("chunk_hash")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("chunk_hash")
    )
    sh = ch.join(shared, "chunk_hash", "left_semi")
    per_shared = sh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_chunks"),
        F.sum("n_tokens").cast("long").alias("shared_tokens"),
    )
    return (
        ch.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
        .join(per_shared, "doc_id", "left")
        .select(
            "doc_id",
            "n_chunks",
            F.coalesce("n_shared_chunks", F.lit(0)).alias("n_shared_chunks"),
            F.coalesce("shared_tokens", F.lit(0).cast("long")).alias(
                "shared_tokens"
            ),
        )
    )


def q_pii_scrub(spark, sf):
    """PII scrubbing (functions/pii.py): deterministic PII-laced text
    (emails / phones / IPv4s appended by doc_id class) -> typed
    placeholder replacement + per-class audit counts. Pure-Column
    regexp chain, twins generated from the same pattern constants."""
    from osmquadtreepostgis_spark.functions.pii import pii_counts, scrub_pii

    d = _docs(spark, sf)
    k = (F.col("doc_id") % 17).cast("string")
    o1 = ((F.col("doc_id") % 200) + 10).cast("string")
    o2 = ((F.col("doc_id") % 251) + 1).cast("string")
    laced = (
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.col("text"), F.lit(" email bob"), k, F.lit("@mail"),
                k, F.lit(".org now"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(
                F.col("text"), F.lit(" call +44 20 79"), o1,
                F.lit("-09"), o1, F.lit(" today"),
            ),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(
                F.col("text"), F.lit(" server 192.168."), o1,
                F.lit("."), o2, F.lit(" up"),
            ),
        )
        .otherwise(F.col("text"))
    )
    ne, ni, np_ = pii_counts(laced)
    return d.select(
        "doc_id",
        scrub_pii(laced).alias("clean_text"),
        ne.alias("n_emails"),
        ni.alias("n_ips"),
        np_.alias("n_phones"),
    )


def q_multimodal_meta(spark, sf):
    """Multimodal plumbing: treat utf-8 bytes of text as an opaque
    binary payload; metadata + deterministic fake 'decode' (real
    decode stubbed — no image libs in env; the Spark-side schema /
    batching is the tested part)."""
    import pandas as pd
    from pyspark.sql import types as T

    d = _docs(spark, sf).select("doc_id", "text", "n_chars")

    def decode(batches):
        for pdf in batches:
            blob = pdf["text"].str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": blob.str.len().astype("int64"),
                    "n_frames": (pdf["n_chars"] // 100 + 1).astype("int64"),
                    "decoded": False,
                }
            )

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("n_frames", T.LongType()),
            T.StructField("decoded", T.BooleanType()),
        ]
    )
    return d.mapInPandas(decode, schema)


def q_multimodal_frames(spark, sf):
    """Frame sampling over video-ish binary payloads (training-data
    multimodal mandate): text bytes as N consecutive 64-byte frames,
    every 4th sampled inside the Arrow batch — the explode shape a
    codec-backed frame sampler uses. ASCII fixture text makes the
    oracle byte-exact via substr."""
    from osmquadtreepostgis_spark.functions.multimodal import sample_frames

    d = _docs(spark, sf).select(
        "doc_id", F.encode("text", "utf-8").alias("payload")
    )
    frames = sample_frames(d, frame_bytes=64, every=4)
    return frames.select(
        "doc_id",
        "frame_idx",
        F.length("frame").cast("long").alias("n_frame_bytes"),
        F.decode("frame", "utf-8").alias("frame_text"),
    )


def q_overlay_pairs(spark, sf):
    """Polygon-polygon candidate join (J5): cell-cover equi-join with
    reference-point dedup over the box fixture layer."""
    from osmquadtreepostgis_spark.operators.pip import bbox_overlay_join

    polys = fixtures.polygons_df(spark)
    return bbox_overlay_join(polys, polys, depth=6)


def q_way_assembly(spark, sf):
    """Node->way coordinate resolution (J1): explode refs, equi-join,
    ordered regroup, mercator length rounded 1dp."""
    from osmquadtreepostgis_spark.operators.assembly import assemble_ways
    from osmquadtreepostgis_spark.plans.elements import ways_df

    docs = _docs(spark, sf)
    nodes = doc_coords(docs.select("doc_id")).select(
        F.col("doc_id").alias("node_id"), "lon", "lat"
    )
    return assemble_ways(ways_df(docs).select("way_id", "refs"), nodes)


def q_parent_tags(spark, sf):
    """Parent-tag propagation (J3): nodes inherit the best containing
    way's highway tag (z_order priority)."""
    from osmquadtreepostgis_spark.operators.assembly import propagate_parent_tags
    from osmquadtreepostgis_spark.plans.elements import ways_df

    docs = _docs(spark, sf)
    nodes = doc_coords(docs.select("doc_id")).select(
        F.col("doc_id").alias("node_id"), "lon", "lat"
    )
    return propagate_parent_tags(nodes, ways_df(docs))


def q_lowzoom_counts(spark, sf):
    """Pyramid-level visibility (D1/D2): rows visible at each level's
    minzoom cutoff."""
    from osmquadtreepostgis_spark.operators.pyramid import lowzoom_level

    el = EL.elements_df(_docs(spark, sf)).withColumn(
        "minzoom",
        RT.minzoom_col(F.col("tags"), F.col("geom_type"), F.col("way_area")),
    )
    out = None
    for cutoff in (6, 9, 11):
        lvl = (
            lowzoom_level(el, cutoff, None, cell_col="__none__")
            .agg(F.count(F.lit(1)).alias("n_visible"))
            .withColumn("zoom", F.lit(cutoff).cast("long"))
        )
        out = lvl if out is None else out.unionByName(lvl)
    return out.select("zoom", "n_visible")


def q_json_props(spark, sf):
    """Null-stripped JSON properties projection (P8,
    jsonb_strip_nulls(row_to_json(...)), __init__.py:261-262) —
    deterministic manual packing identical in both engines."""
    el = EL.elements_df(_docs(spark, sf))
    t = F.col("tags")

    def ent(k):
        v = F.element_at(t, k)
        return F.when(
            v.isNotNull(), F.concat(F.lit(f'"{k}":"'), v, F.lit('"'))
        )

    keys = ["admin_level", "boundary", "building", "highway", "name", "type"]
    props = F.concat(
        F.lit("{"), F.concat_ws(",", *[ent(k) for k in keys]), F.lit("}")
    )
    return el.select("osm_id", props.alias("properties"))


def q_geom_measures(spark, sf):
    """WKB round-trip measures (F2/F9/F14): per-doc mercator rectangle
    -> EWKB -> area/validity via the geometry UDFs, vs closed-form SQL."""
    from osmquadtreepostgis_spark.functions.geometry import (
        bbox_to_wkb_udf,
        wkb_area_udf,
        wkb_is_valid_udf,
    )

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    d = d.withColumn("lat", F.least(F.col("lat"), F.lit(84.5)))
    way = bbox_to_wkb_udf(round_2dp=True)(
        F.col("lon"), F.col("lat"), F.col("lon") + 0.5, F.col("lat") + 0.25
    )
    return d.select(
        "doc_id",
        wkb_area_udf(way).alias("way_area"),
        wkb_is_valid_udf(way).alias("is_valid"),
    )


def q_asof_events_orders(spark, sf):
    """As-of join: each event (ts remapped into the orders epoch range)
    picks the customer's latest order at-or-before it. Exact
    union+window method vs DuckDB's native ASOF JOIN."""
    _utc(spark)
    from osmquadtreepostgis_spark.operators.asof import asof_join

    orders = load_table(spark, sf, "orders")
    left = (
        orders.groupBy(
            F.col("o_custkey").alias("k"),
            F.unix_timestamp("o_orderdate").alias("lts"),
        )
        .agg(_dec_sum(F.col("o_totalprice"), "tp"))
    )
    events = load_table(spark, sf, "events")
    right = events.select(
        "event_id",
        (F.col("user_id") + 1).alias("k"),
        (F.lit(694224000) + F.unix_timestamp("ts") % 189216000).alias("rts"),
    )
    return asof_join(left, right, "k", "lts", "rts", ["tp"]).select(
        "event_id", "k", "tp"
    )


def q_rollup_pricing(spark, sf):
    """GROUP BY ROLLUP (built-in Catalyst; absent in the reference,
    free in Spark — SURVEY.md §2.4)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(_dec_sum(F.col("l_quantity"), "sum_qty"), F.count(F.lit(1)).alias("n"))
    )


def q_salted_tile_agg(spark, sf):
    """Hot-key-salted two-phase aggregation — exact same result as the
    plain tile aggregate (shares its oracle arithmetic)."""
    from osmquadtreepostgis_spark.operators.skew import salted_agg

    d = doc_coords(_docs(spark, sf).select("doc_id", "n_chars"))
    enc = d.withColumn("cell", cell_encode_udf(CELL_DEPTH)("lon", "lat")).withColumn(
        "tile", cell_parent_col("cell", TILE_DEPTH)
    )
    return salted_agg(
        enc,
        ["tile"],
        {"n_docs": ("count", F.lit(1)), "sum_chars": ("sum", F.col("n_chars"))},
        n_salt=8,
        salt_source=F.col("doc_id"),
    )


def q_multipolygon_parts(spark, sf):
    """Relation->multipolygon assembly (J2): two-part relations built
    from doc coords; ring chaining + per-part area (NOT SQL-
    expressible: rows-only driver check; pinned by pytest)."""
    from osmquadtreepostgis_spark.operators.assembly import assemble_multipolygons

    d = doc_coords(_docs(spark, sf).select("doc_id")).filter(
        F.col("doc_id") % 7 == 0
    )
    d = d.withColumn("lat", F.least(F.col("lat"), F.lit(84.0)))

    def rect(lon0, lat0, dlon, dlat):
        return F.array(
            F.struct(lon0.alias("lon"), lat0.alias("lat")),
            F.struct((lon0 + dlon).alias("lon"), lat0.alias("lat")),
            F.struct((lon0 + dlon).alias("lon"), (lat0 + dlat).alias("lat")),
            F.struct(lon0.alias("lon"), (lat0 + dlat).alias("lat")),
            F.struct(lon0.alias("lon"), lat0.alias("lat")),
        )

    lon, lat = F.col("lon"), F.col("lat")
    m1 = d.select(
        F.col("doc_id").alias("rel_id"),
        F.lit(1).alias("way_id"),
        F.lit("outer").alias("role"),
        rect(lon, lat, F.lit(0.4), F.lit(0.2)).alias("coords"),
    )
    m2 = d.select(
        F.col("doc_id").alias("rel_id"),
        F.lit(2).alias("way_id"),
        F.lit("outer").alias("role"),
        rect(lon + 1.0, lat, F.lit(0.2), F.lit(0.2)).alias("coords"),
    )
    members = m1.unionByName(m2)
    return assemble_multipolygons(members, round_2dp=True).select(
        "rel_id", "part", "way_area"
    )


def q_multipolygon_chain(spark, sf):
    """Relation->multipolygon assembly with UNCLOSED member arcs (J2,
    the reference's MultiPolygons ring-chaining stage,
    docs/output.txt:21,75): each ring arrives split into 2-3 arcs, one
    arc per rect REVERSED, plus a hole split into 2 arcs. The chained
    result is closed-form: two rect parts, part 0 carrying the hole.

    Oracle note: the hole's shoelace sum must replicate ring_area's
    cumsum-difference association (cs[e-1]-cs[s] over the stacked
    coords array) bit-for-bit — see sql_multipolygon_chain terms.
    """
    from osmquadtreepostgis_spark.operators.assembly import assemble_multipolygons

    d = doc_coords(_docs(spark, sf).select("doc_id")).filter(
        F.col("doc_id") % 11 == 3
    )
    d = d.withColumn("lat", F.least(F.col("lat"), F.lit(84.0)))
    lon, lat = F.col("lon"), F.col("lat")

    def pt(lo, la):
        return F.struct(lo.alias("lon"), la.alias("lat"))

    def arc(way_id, role, *pts):
        return d.select(
            F.col("doc_id").alias("rel_id"),
            F.lit(way_id).alias("way_id"),
            F.lit(role).alias("role"),
            F.array(*pts).alias("coords"),
        )

    # rect A corners (CCW): P0 bl, P1 br, P2 tr, P3 tl
    p0 = pt(lon, lat)
    p1 = pt(lon + 0.4, lat)
    p2 = pt(lon + 0.4, lat + 0.2)
    p3 = pt(lon, lat + 0.2)
    # hole H inside A (emitted CW so orientation survives normalize)
    h0 = pt(lon + 0.1, lat + 0.05)
    h1 = pt(lon + 0.2, lat + 0.05)
    h2 = pt(lon + 0.2, lat + 0.1)
    h3 = pt(lon + 0.1, lat + 0.1)
    # rect B corners (CCW), disjoint from A
    q0 = pt(lon + 1.0, lat)
    q1 = pt(lon + 1.2, lat)
    q2 = pt(lon + 1.2, lat + 0.2)
    q3 = pt(lon + 1.0, lat + 0.2)

    members = (
        arc(1, "outer", p0, p1)            # bottom edge
        .unionByName(arc(2, "outer", p1, p2, p3))  # right + top
        .unionByName(arc(3, "outer", p0, p3))      # REVERSED left edge
        .unionByName(arc(4, "inner", h0, h3, h2))  # hole, CW half
        .unionByName(arc(5, "inner", h2, h1, h0))  # hole, CW half
        .unionByName(arc(6, "outer", q0, q1, q2))  # B: bottom + right
        .unionByName(arc(7, "outer", q0, q3, q2))  # B: REVERSED left+top
    )
    return assemble_multipolygons(members, round_2dp=True).select(
        "rel_id", "part", "way_area"
    )


def _shipped(fn):
    """Make sure workers can import the package before running (the
    addPyFile analog of spark-submit --py-files)."""

    def wrapped(spark, sf):
        ensure_workers_can_import(spark)
        return fn(spark, sf)

    wrapped.__name__ = fn.__name__
    return wrapped


def q_tfidf_keywords(spark, sf):
    """Per-document TF-IDF top-5 keyword extraction
    (operators/tfidf.py:tfidf_topk): explode -> map-side-combined
    (doc_id, term) counts -> vocabulary-sized df join -> broadcast
    corpus total -> bounded per-doc window. The text-corpus analog of
    the reference's tag-value frequency surfaces
    (/root/reference/osmquadtreepostgis/__init__.py:202-279). Ranking
    on the unrounded score with a term tie-break; emitted score
    rounded 4 dp in both engines."""
    from osmquadtreepostgis_spark.operators.tfidf import tfidf_topk

    return tfidf_topk(_docs(spark, sf), k=5)


def q_collocations(spark, sf):
    """Global top-50 bigram collocations by PMI
    (operators/tfidf.py:collocations_pmi): pure-Column shifted-slice
    bigrams, keyed aggregations, two vocabulary joins, broadcast
    totals, TakeOrdered top-k (no global sort)."""
    from osmquadtreepostgis_spark.operators.tfidf import collocations_pmi

    return collocations_pmi(_docs(spark, sf), min_count=5, k=50)


def q_synth_dedup_pairs(spark, sf):
    """MinHash-LSH candidate generation + exact verification
    (operators/dedup.py:minhash_verified_pairs, threshold-derived
    geometry) over the PLANTED near-dup corpus
    (sources/corpus_synth.py) — the r5 hard-signal entry for the
    fixed permutation family (functions/sketches.py:minhash_params):
    the oracle REGENERATES the corpus independently in DuckDB
    (sql_synth_documents, byte-identical closed-form LCG math) and
    computes exact Jaccard pairs; the banded path must equal it
    exactly (miss < 1e-6 at the threshold). Planted light dups sit at
    J≈0.75 (true pairs), heavy at J≈0.14 (hard negatives)."""
    from osmquadtreepostgis_spark.operators.dedup import minhash_verified_pairs
    from osmquadtreepostgis_spark.sources.corpus_synth import synth_documents

    return minhash_verified_pairs(
        synth_documents(spark, 800, partitions=8), 0.5
    )


def q_geohash_encode(spark, sf):
    """Geohash-8 encode (functions/geohash.py) — the public base32
    interchange form of the reference's interleaved-bisection quadtree
    key (src/oqt_compat quadtree::calculate analog): packed 40-bit key
    + base32 string + the 4-char prefix used for coarse bucketing.
    Pure-Column bit math built from the SAME generator as the oracle;
    projection only — no shuffle, no UDF."""
    from osmquadtreepostgis_spark.functions.geohash import with_geohash

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    g = with_geohash(d, "lon", "lat", 8)
    return g.select(
        "doc_id",
        "gh_key",
        "geohash",
        F.substring("geohash", 1, 4).alias("gh4"),
    )


def q_passage_dedup(spark, sf):
    """C4-style sub-document global dedup (operators/passages.py):
    8-word passages, global first-occurrence survivor (min (doc_id,
    idx) — deterministic, order-independent), per-doc re-assembly.
    One fingerprint groupBy + one join back + one doc groupBy; no
    window over the corpus, no Python."""
    from osmquadtreepostgis_spark.operators.passages import passage_dedup

    return passage_dedup(_docs(spark, sf).select("doc_id", "text"))


_BL_PATH_KEYWORDS = ["/ads/", "utm_tracker"]


def _blocklist_url():
    k = (F.col("doc_id") % 37).cast("string")
    i = F.col("doc_id").cast("string")
    return F.concat(
        F.lit("https://site"), k, F.lit(".example"), k, F.lit(".org"),
        F.when(F.col("doc_id") % 11 == 0, F.lit("/ads/")).otherwise(
            F.lit("/p/")
        ),
        i,
    )


def _sql_search_boolean() -> str:
    from osmquadtreepostgis_spark.operators.tfidf import (
        sql_search_conjunctive,
    )

    return sql_search_conjunctive(["hash", "join", "vector"], k=25)


def _robots_url_sql() -> str:
    return (
        "('https://site' || cast(doc_id % 37 as varchar) || "
        "'.example' || cast(doc_id % 37 as varchar) || '.org' || "
        "(CASE WHEN doc_id % 4 = 0 THEN '/ads/' || cast(doc_id as varchar) "
        "WHEN doc_id % 4 = 1 THEN '/ads/ok/' || cast(doc_id as varchar) "
        "WHEN doc_id % 4 = 2 THEN '/p/' || cast(doc_id as varchar) "
        "ELSE '/' END))"
    )


def _blocklist_url_sql() -> str:
    return (
        "('https://site' || cast(doc_id % 37 as varchar) || "
        "'.example' || cast(doc_id % 37 as varchar) || '.org' || "
        "(CASE WHEN doc_id % 11 = 0 THEN '/ads/' ELSE '/p/' END) || "
        "cast(doc_id as varchar))"
    )


def q_url_blocklist(spark, sf):
    """Crawl-gatekeeper blocklist audit (operators/blocklist.py):
    registered-domain rules as a broadcast EQUI left join (the rule
    table is data — millions of rows in production), path keywords
    folded at plan time into one codegen'd regex. Every page comes
    back with blocked_domain / blocked_path / kept flags."""
    from osmquadtreepostgis_spark.operators.blocklist import audit_blocklist

    d = _docs(spark, sf).select("doc_id").withColumn("url", _blocklist_url())
    rules = (
        spark.range(37)
        .filter(F.col("id") % 4 == 0)
        .select(
            F.concat(
                F.lit("example"), F.col("id").cast("string"), F.lit(".org")
            ).alias("domain")
        )
    )
    out = audit_blocklist(d, rules, _BL_PATH_KEYWORDS, url_col="url")
    return out.select(
        "doc_id", "url", "domain", "blocked_domain", "blocked_path", "kept"
    )


_SEG_X2 = "least(greatest(lon + ((doc_id % 17) - 8) * 1.7, -180.0), 180.0)"
_SEG_Y2 = "least(greatest(lat + ((doc_id % 13) - 6) * 1.3, -90.0), 90.0)"


def q_tile_clip(spark, sf):
    """Tile fragmentation (operators/clip.py): Liang-Barsky parametric
    clip of synthesized multi-tile segments against the depth-5
    equirectangular grid, candidates from the bbox tile cover. Scan →
    project → two explodes → codegen'd window filter; ZERO shuffles —
    the per-tile write repartition is the caller's only exchange."""
    from osmquadtreepostgis_spark.operators.clip import clip_segments_to_tiles

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    segs = d.select(
        F.col("doc_id").alias("seg_id"),
        F.col("lon").alias("x1"),
        F.col("lat").alias("y1"),
        F.expr(_SEG_X2).alias("x2"),
        F.expr(_SEG_Y2).alias("y2"),
    )
    return clip_segments_to_tiles(segs, depth=5)


_LINK_PARAMS = [(7, 1), (13, 5), (31, 11)]


def _links_sql() -> str:
    arms = " UNION ALL ".join(
        f"SELECT doc_id AS src, (doc_id * {m} + {a}) % 1000 AS dst "
        "FROM documents"
        for m, a in _LINK_PARAMS
    )
    return f"(SELECT * FROM ({arms}) WHERE src <> dst)"


def q_linkrank(spark, sf):
    """Fixed-point damped link rank (operators/linkrank.py): 2
    iterations of the PageRank recurrence in int64 micro-units —
    integer sums are order-independent, so the distributed result is
    bit-stable under any partitioning (and equals the DuckDB twin
    exactly, no float-sum-order caveats). Links synthesized 3 per
    page with dangling targets dropped by the membership semi-join."""
    from osmquadtreepostgis_spark.operators.linkrank import linkrank

    d = _docs(spark, sf).select("doc_id")
    links = (
        d.select(
            F.col("doc_id").alias("src"),
            F.explode(
                F.array(
                    *[
                        (F.col("doc_id") * m + a) % 1000
                        for m, a in _LINK_PARAMS
                    ]
                )
            ).alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return linkrank(d, links, iterations=2)


def _anchored_html_col():
    """Fixture html whose body carries one <a> per _LINK_PARAMS arm —
    the href path encodes the synthetic link target, so the parsed
    graph equals q_linkrank's formula graph."""
    from osmquadtreepostgis_spark.functions.html import escape_html

    parts = [F.lit(_HTML_PRE), escape_html(F.col("text")), F.lit("</p>")]
    for m, a in _LINK_PARAMS:
        t = ((F.col("doc_id") * m + a) % 1000).cast("string")
        parts += [
            F.lit('<a href="https://h'),
            t,
            F.lit(".example.org/p/"),
            t,
            F.lit('">go '),
            t,
            F.lit("</a>"),
        ]
    parts.append(F.lit("</body></html>"))
    return F.concat(*parts)


def _anchored_html_sql() -> str:
    from osmquadtreepostgis_spark.functions.html import sql_escape_html

    arms = []
    for m, a in _LINK_PARAMS:
        t = f"cast((doc_id * {m} + {a}) % 1000 as varchar)"
        arms.append(
            f"'<a href=\"https://h' || {t} || '.example.org/p/' || {t} || "
            f"'\">go ' || {t} || '</a>'"
        )
    return (
        f"'{_HTML_PRE}' || {sql_escape_html('text')} || '</p>' || "
        + " || ".join(arms)
        + " || '</body></html>'"
    )


def q_recrawl_latest(spark, sf):
    """Recrawl snapshot resolution — the (url, warc_ts) shape of the
    input-hint pages table: multiple crawl snapshots of one canonical
    URL collapse to the LATEST by capture time via ``max_by`` (ONE
    hash groupBy with map-side-combinable arg-max state — no window,
    no sort; ties impossible because the synthesized ts is injective
    in doc_id). The upsert-side twin of q_dedup_url's keep-first."""
    d = _docs(spark, sf).select("doc_id")
    url = F.concat(
        F.lit("https://s"),
        (F.col("doc_id") % 101).cast("string"),
        F.lit(".example.org/p"),
    )
    ts = F.lit(1600000000) + F.col("doc_id") * 37
    return (
        d.select(url.alias("url"), F.col("doc_id"), ts.alias("warc_ts_sec"))
        .groupBy("url")
        .agg(
            F.count(F.lit(1)).alias("n_snapshots"),
            F.expr("max_by(doc_id, warc_ts_sec)").alias("latest_doc_id"),
            F.max("warc_ts_sec").alias("latest_ts_sec"),
        )
    )


def q_stream_url_gate(spark, sf):
    """Stream-STATIC join gate (streaming/stream.py:stream_url_gate):
    blocklist rules as a bounded static broadcast frame joined into
    each micro-batch of the page stream, folded path regex, running
    per-domain kept/blocked aggregate. Order-independent aggregates
    make the bounded answer schedule-invariant = the batch oracle."""
    from osmquadtreepostgis_spark.streaming.stream import stream_url_gate

    return run_stream_to_completion(
        stream_url_gate(spark, sf), name="q_stream_url_gate"
    )


def q_lm_surprisal(spark, sf):
    """Corpus-trained unigram surprisal quality score in EXACT integer
    bits (operators/tfidf.py:unigram_surprisal): ilog2 via length(bin)
    — no float log, integer per-doc sums are order-independent, so the
    distributed score is bit-stable (the LM-perplexity filter shape
    without the float-sum nondeterminism)."""
    from osmquadtreepostgis_spark.operators.tfidf import unigram_surprisal

    return unigram_surprisal(_docs(spark, sf).select("doc_id", "text"))


def q_anchor_extract(spark, sf):
    """Anchor/out-link extraction (functions/html.py:extract_links):
    two portable single-group regexp_extract_all passes zipped
    positionally, posexplode to one row per link, registered domain
    attached. Pure Catalyst — the crawl-side producer of the link
    graph that linkrank consumes."""
    from osmquadtreepostgis_spark.functions.html import extract_links
    from osmquadtreepostgis_spark.functions.urls import registered_domain

    d = _docs(spark, sf).select("doc_id", "text")
    rows = d.select(
        "doc_id", F.posexplode(extract_links(_anchored_html_col()))
    )
    return rows.select(
        "doc_id",
        F.col("pos").cast("long").alias("link_idx"),
        F.col("col.href").alias("href"),
        F.col("col.anchor").alias("anchor"),
        registered_domain(F.col("col.href")).alias("href_domain"),
    )


def q_anchor_linkrank(spark, sf):
    """END-TO-END web composition: html → anchor extraction → parse
    the target page id out of each href → fixed-point linkrank over
    the PARSED graph. Content-derived rather than formula-derived
    links; equals q_linkrank's result because the fixture hrefs
    encode the same targets."""
    from osmquadtreepostgis_spark.functions.html import extract_links
    from osmquadtreepostgis_spark.operators.linkrank import linkrank

    d = _docs(spark, sf).select("doc_id", "text")
    links = (
        d.select("doc_id", F.explode(extract_links(_anchored_html_col())))
        .select(
            F.col("doc_id").alias("src"),
            F.regexp_extract(F.col("col.href"), "/p/([0-9]+)$", 1)
            .cast("long")
            .alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
    )
    return linkrank(d.select("doc_id"), links, iterations=2)


def q_spatial_cluster(spark, sf):
    """Grid-blocked epsilon-ball spatial clustering
    (operators/geocluster.py): candidate pairs from a 3×3
    grid-neighborhood equi-join (never all pairs), exact squared-degree
    refine, then the shared O(log n)-round large-star/small-star CC.
    Labels are component-min doc ids; singletons keep their own id —
    DBSCAN connectivity with minPts=1 over the deterministic
    doc-coordinate fixture."""
    from osmquadtreepostgis_spark.operators.geocluster import spatial_cluster

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    return spatial_cluster(d, eps=6.0).select(
        "doc_id", "cluster_id", "cluster_size"
    )


def q_search_boolean(spark, sf):
    """Conjunctive boolean retrieval with TF-IDF ranking
    (operators/tfidf.py search_conjunctive): the query-term filter
    lands before the posting aggregate (non-query terms never
    materialize — the probe plan of a term-partitioned posting table),
    AND semantics is one countDistinct==|q| aggregate, per-term
    dfreqs broadcast, doc length pure-Column, global top-k via
    TakeOrderedAndProject."""
    from osmquadtreepostgis_spark.operators.tfidf import search_conjunctive

    return search_conjunctive(
        _docs(spark, sf), ["hash", "join", "vector"], k=25
    )


def q_weighted_sample(spark, sf):
    """Deterministic weighted sampling without replacement
    (operators/corpus.py weighted_sample, the exponential-keys / A-ES
    scheme): key = -ln(u)/w with a portable md5 uniform, k smallest
    keys win — inclusion probability proportional to weight,
    reproducible across partitionings, executed as
    TakeOrderedAndProject (per-partition heap, no global sort)."""
    from osmquadtreepostgis_spark.operators.corpus import weighted_sample

    d = _docs(spark, sf).select(
        "doc_id", ((F.col("doc_id") % 10) + 1).cast("double").alias("w")
    )
    return weighted_sample(d, k=100, weight_col="w")


def _robots_url() -> Column:
    k = (F.col("doc_id") % 37).cast("string")
    path = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("/ads/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("/ads/ok/"), F.col("doc_id").cast("string")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("/p/"), F.col("doc_id").cast("string")))
        .otherwise(F.lit("/"))
    )
    return F.concat(
        F.lit("https://site"), k, F.lit(".example"), k, F.lit(".org"), path
    )


def q_robots_gate(spark, sf):
    """robots.txt longest-match evaluation (operators/robots.py,
    RFC 9309 semantics): rules are DATA (one row per prefix rule per
    domain), pages meet only their domain's rules via a broadcast equi
    join with the prefix test as residual, and longest-match + the
    Allow-tie rule collapse to ONE map-side max(struct(len, allow))
    aggregate — no window, no sort. No-rule pages are allowed."""
    from osmquadtreepostgis_spark.operators.robots import robots_gate

    pages = _docs(spark, sf).select("doc_id").withColumn("url", _robots_url())
    base = spark.range(37)
    dom = F.concat(F.lit("example"), F.col("id").cast("string"), F.lit(".org"))
    mk = lambda pred, allow, pref: base.filter(pred).select(  # noqa: E731
        dom.alias("domain"),
        F.lit(allow).alias("allow"),
        F.lit(pref).alias("path_prefix"),
    )
    rules = (
        mk(F.col("id") % 2 == 0, False, "/ads/")
        .unionByName(mk(F.col("id") % 2 == 0, True, "/ads/ok/"))
        .unionByName(mk(F.col("id") % 3 == 0, False, ""))
        .unionByName(mk(F.col("id") % 6 == 0, True, ""))
    )
    return robots_gate(pages, rules)


def q_dedup_incremental_bloom(spark, sf):
    """Bloom-prefiltered EXACT seen-set membership
    (operators/bloom.py): k JVM-side xxhash64 bit positions, one
    map-side-combinable bit_or aggregate builds the filter (the
    collect IS the broadcastable filter — 2 MiB at m=2^24), an
    Arrow-batched numpy probe map-side-rejects definitely-new docs,
    and only the maybe sliver (true dups + the sized FP rate) reaches
    the exact semi-join — so the answer equals the plain text-equality
    join, which is the oracle."""
    from osmquadtreepostgis_spark.operators.bloom import (
        dedup_incremental_bloom,
    )

    docs = _docs(spark, sf)
    seen = docs.filter(F.col("doc_id") % 3 == 0).select("text")
    return dedup_incremental_bloom(docs, seen)


def q_hilbert_encode(spark, sf):
    """Hilbert-curve cell keys (functions/hilbert.py): the S2 family's
    curve as a fourth key encoding beside Morton/z_order/geohash —
    consecutive d-indexes are grid-adjacent, so range partitions of the
    key are spatially compact blobs. Staged pure-Column bit math from
    the SAME SQL generators as the DuckDB twin (byte-identical by
    construction); the coarse tile is the top-bits SHIFT of the fine
    key (quadrant digits are MSB-first), never a re-encode."""
    from osmquadtreepostgis_spark.functions.hilbert import with_hilbert

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    return with_hilbert(d, "lon", "lat", order=16).select(
        "doc_id",
        "hilbert_d",
        F.expr("hilbert_d >> 16").alias("hilbert_tile8"),
    )


def q_line_dedup(spark, sf):
    """Line-level boilerplate removal (operators/lines.py — the
    CCNet/RefinedWeb line-dedup stage): lines recurring in >= 3
    distinct docs of the same source are chrome, dropped, and the doc
    is reassembled in original line order.  Counting shuffles 64-bit
    md5 line keys, never line strings; the fixture plants a per-id%7
    nav line and a universal footer so both the shared-boilerplate and
    kept-prose paths are exercised."""
    from osmquadtreepostgis_spark.operators.lines import strip_boilerplate_lines

    d = _docs(spark, sf).select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.lit("\n"),
            F.lit("nav-"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("\n(c) example corp 2026"),
        ).alias("text"),
    )
    return strip_boilerplate_lines(d, min_docs=3)


def q_lang_rebalance(spark, sf):
    """Temperature (alpha=0.5) multilingual rebalancing
    (operators/corpus.py rebalance_languages): per-language keep rate
    proportional to n^alpha / n, decided by an integer ppb compare on
    the portable md5 coin — one tiny histogram agg + one broadcast
    join; the corpus is never shuffled."""
    from osmquadtreepostgis_spark.operators.corpus import rebalance_languages

    return rebalance_languages(
        _docs(spark, sf), alpha=0.5, target_rate=0.5
    )


def q_split_assign(spark, sf):
    """Leakage-safe train/val/test assignment (operators/corpus.py
    assign_splits): the split coin hashes the document CONTENT, so
    byte-identical duplicates co-locate in one split — pure integer
    map, no shuffle."""
    from osmquadtreepostgis_spark.operators.corpus import assign_splits

    return assign_splits(_docs(spark, sf))


def q_sequence_pack(spark, sf):
    """GPT-style concat-then-chop sequence packing
    (operators/corpus.py pack_chop_concat): per-shard token streams
    chopped into 512-token windows via ONE window cumsum — integer
    math end to end, shards hash-assigned so packing parallelism is
    skew-free; complements the greedy first-fit pack_sequences
    (pytest-pinned) with the SQL-expressible zero-padding variant."""
    from osmquadtreepostgis_spark.operators.corpus import pack_chop_concat

    d = _docs(spark, sf).select(
        "doc_id", F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens")
    )
    return pack_chop_concat(d, context_len=512, n_shards=64)


def q_semantic_dedup(spark, sf):
    """SemDeDup-style semantic deduplication (composition): exact
    cosine pairs at threshold 0.4 via the distributed block-pair
    cogroup GEMM (operators/knn.py ann_cosine_pairs_grid — the
    LSH-banded path is the 100 TB candidate generator), transitive
    closure via the O(log n)-round alternating-star CC
    (operators/cluster.py), ONE survivor per semantic cluster
    (min id).  One row per vector: (vec_id, cluster_id, cluster_size,
    keep).  The 0.4 threshold carries >= 1e-4 margin on this fixture
    (see q_embed_cosine_pairs), so the pair set — and therefore the
    clustering — is identical across engines despite fp."""
    from osmquadtreepostgis_spark.operators.cluster import resolve_duplicates

    emb = load_table(spark, sf, "embeddings")
    pairs = KNN.ann_cosine_pairs_grid(emb, threshold=0.4, block_rows=2048)
    return resolve_duplicates(
        emb.select("vec_id"), pairs, id_col="vec_id"
    )


def q_crawl_diff(spark, sf):
    """Crawl-snapshot delta (operators/crawl.py): full-outer equi join
    on the canonical URL over fixed-width content fingerprints —
    added/removed/changed/unchanged per URL, the gate that decides how
    much of the next crawl re-enters the pipeline.  Fixture: old =
    ids !≡2 (mod 3), new = ids !≡0 (mod 3), content changed for ids
    ≡0 (mod 5)."""
    from osmquadtreepostgis_spark.operators.crawl import crawl_diff

    d = _docs(spark, sf)
    url = F.concat(
        F.lit("https://s"),
        (F.col("doc_id") % 101).cast("string"),
        F.lit(".example.org/p"),
        F.col("doc_id").cast("string"),
    )
    old = d.filter(F.col("doc_id") % 3 != 2).select(
        url.alias("url"), F.md5("text").alias("fingerprint")
    )
    new = d.filter(F.col("doc_id") % 3 != 0).select(
        url.alias("url"),
        F.when(
            F.col("doc_id") % 5 == 0, F.md5(F.concat(F.col("text"), F.lit("v2")))
        )
        .otherwise(F.md5("text"))
        .alias("fingerprint"),
    )
    return crawl_diff(old, new)


def q_raster_smooth(spark, sf):
    """Box-kernel raster smoothing (operators/pyramid.py
    smooth_raster): rasterize doc points at depth 4, scatter each cell
    to its 3x3 neighborhood via ONE constant-array explode, aggregate
    on the re-packed target cell, divide by the clipped in-bounds
    kernel area — integer math + one division, bit-exact vs the
    DuckDB twin built from the same Morton generators."""
    from osmquadtreepostgis_spark.operators.pyramid import (
        rasterize_points,
        smooth_raster,
    )

    d = doc_coords(_docs(spark, sf).select("doc_id"))
    return smooth_raster(rasterize_points(d, depth=4), depth=4, kernel=1)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # NOTE: entry ORDER is load-bearing — the correctness driver
    # samples the FIRST 50 entries each round, so the registry is
    # rotated per round to keep every entry inside a recent sample
    # window (see COVERAGE.md; ADVICE r5 asked for this note back).
    return {
        "sql_surface_cells": _shipped(q_sql_surface_cells),
        "pip_points_in_boxes": _shipped(q_pip_points_in_boxes),
        "pip_shuffle_cover": _shipped(q_pip_shuffle_cover),
        "mine_entities": _shipped(q_mine_entities),
        "flagship_tiles": _shipped(q_flagship_tiles),
        "knn_exact": _shipped(q_knn_exact),
        "knn_grid": _shipped(q_knn_grid),
        "routing_extended": _shipped(q_routing_extended),
        "tag_pivot_residual": _shipped(q_tag_pivot_residual),
        "zorder_minzoom": _shipped(q_zorder_minzoom),
        "style_spec_routing": _shipped(q_style_spec_routing),
        "pyramid_counts": _shipped(q_pyramid_counts),
        "raster_vectorize": _shipped(q_raster_vectorize),
        "union_roads": _shipped(q_union_roads),
        "pricing_summary": _shipped(q_pricing_summary),
        "revenue_by_nation": _shipped(q_revenue_by_nation),
        "top_orders_window": _shipped(q_top_orders_window),
        "semi_anti_join": _shipped(q_semi_anti_join),
        "events_sessionize": _shipped(q_events_sessionize),
        "events_window_agg": _shipped(q_events_window_agg),
        "stream_events_window": _shipped(q_stream_events_window),
        "stream_stateful_sessionize": _shipped(q_stream_stateful_sessionize),
        "stream_dedup_exact": _shipped(q_stream_dedup_exact),
        "stream_curate": _shipped(q_stream_curate),
        "dedup_ngram_jaccard": _shipped(q_dedup_ngram_jaccard),
        "dedup_clusters": _shipped(q_dedup_clusters),
        "dedup_incremental": _shipped(q_dedup_incremental),
        "dedup_incremental_minhash": _shipped(q_dedup_incremental_minhash),
        "repetition_signals": _shipped(q_repetition_signals),
        "url_normalize": _shipped(q_url_normalize),
        "domain_stats": _shipped(q_domain_stats),
        "domain_cap": _shipped(q_domain_cap),
        "curate_corpus": _shipped(q_curate_corpus),
        "curate_corpus_minhash": _shipped(q_curate_corpus_minhash),
        "corpus_stats": _shipped(q_corpus_stats),
        "hash_embeddings": _shipped(q_hash_embeddings),
        "text_near_dup": _shipped(q_text_near_dup),
        "image_near_dup": _shipped(q_image_near_dup),
        "dedup_minhash_lsh": _shipped(q_dedup_minhash_lsh),
        "dedup_spans": _shipped(q_dedup_spans),
        "dedup_simhash": _shipped(q_dedup_simhash),
        "embed_cosine_pairs": _shipped(q_embed_cosine_pairs),
        "embed_topk": _shipped(q_embed_topk),
        "knn_label_eval": _shipped(q_knn_label_eval),
        "embed_topk_ivf": _shipped(q_embed_topk_ivf),
        "fuzzy_name_lookup": _shipped(q_fuzzy_name_lookup),
        "tile_agg": _shipped(q_tile_agg),
        "dedup_exact": _shipped(q_dedup_exact),
        "html_extract": _shipped(q_html_extract),
        "semantic_dedup": _shipped(q_semantic_dedup),
        "crawl_diff": _shipped(q_crawl_diff),
        "raster_smooth": _shipped(q_raster_smooth),
        "line_dedup": _shipped(q_line_dedup),
        "lang_rebalance": _shipped(q_lang_rebalance),
        "split_assign": _shipped(q_split_assign),
        "sequence_pack": _shipped(q_sequence_pack),
        "hilbert_encode": _shipped(q_hilbert_encode),
        "spatial_cluster": _shipped(q_spatial_cluster),
        "dedup_incremental_bloom": _shipped(q_dedup_incremental_bloom),
        "robots_gate": _shipped(q_robots_gate),
        "weighted_sample": _shipped(q_weighted_sample),
        "search_boolean": _shipped(q_search_boolean),
        "recrawl_latest": _shipped(q_recrawl_latest),
        "stream_url_gate": _shipped(q_stream_url_gate),
        "lm_surprisal": _shipped(q_lm_surprisal),
        "anchor_extract": _shipped(q_anchor_extract),
        "anchor_linkrank": _shipped(q_anchor_linkrank),
        "linkrank": _shipped(q_linkrank),
        "tile_clip": _shipped(q_tile_clip),
        "geohash_encode": _shipped(q_geohash_encode),
        "passage_dedup": _shipped(q_passage_dedup),
        "url_blocklist": _shipped(q_url_blocklist),
        "cdc_dedup": _shipped(q_cdc_dedup),
        "diverse_sample": _shipped(q_diverse_sample),
        "pii_scrub": _shipped(q_pii_scrub),
        "multipolygon_chain": _shipped(q_multipolygon_chain),
        "synth_dedup_pairs": _shipped(q_synth_dedup_pairs),
        "dedup_url": _shipped(q_dedup_url),
        "embed_quantize": _shipped(q_embed_quantize),
        "decontaminate": _shipped(q_decontaminate),
        "tfidf_keywords": _shipped(q_tfidf_keywords),
        "collocations": _shipped(q_collocations),
        "fuzzy_name_pairs": _shipped(q_fuzzy_name_pairs),
        "text_analysis": _shipped(q_text_analysis),
        "quality_filter": _shipped(q_quality_filter),
        "sample_stratified": _shipped(q_sample_stratified),
        "multimodal_meta": _shipped(q_multimodal_meta),
        "multimodal_frames": _shipped(q_multimodal_frames),
        "overlay_pairs": _shipped(q_overlay_pairs),
        "way_assembly": _shipped(q_way_assembly),
        "parent_tags": _shipped(q_parent_tags),
        "lowzoom_counts": _shipped(q_lowzoom_counts),
        "json_props": _shipped(q_json_props),
        "geom_measures": _shipped(q_geom_measures),
        "multipolygon_parts": _shipped(q_multipolygon_parts),
        "rollup_pricing": _shipped(q_rollup_pricing),
        "asof_events_orders": _shipped(q_asof_events_orders),
        "salted_tile_agg": _shipped(q_salted_tile_agg),
        "cell_encode": _shipped(q_cell_encode),
    }


# ---------------------------------------------------------------------------
# oracle SQL (DuckDB dialect)


def _mine_cte() -> str:
    return f"""mention AS (
  SELECT d.doc_id, g.entity, g.glon AS lon, g.glat AS lat,
         cast(len(list_filter(string_split(d.text, ' '), t -> t = g.entity))
              as bigint) AS n_occurrences
  FROM documents d CROSS JOIN {_GAZ}
)"""


def _sql_tri(expr: str) -> str:
    from osmquadtreepostgis_spark.operators.fuzzy import sql_char_trigrams

    return sql_char_trigrams(expr)


def _sig_sql() -> str:
    """Per-doc MinHash signature columns mh0..mh15 over 3-gram shingles."""
    sh = sql_word_shingles("text", 3)
    # reduced to the 30-bit permutation domain exactly like the Spark
    # side (sketches.MINHASH_DOM) — multipliers are < 2^31 so the
    # product stays int64-safe in DuckDB too
    hashed = (
        f"list_transform({sh}, s -> {sql_md5_int64('s')} % {MINHASH_DOM})"
    )
    cols = []
    for i, (a, b) in enumerate(minhash_params(16)):
        cols.append(
            f"coalesce(list_min(list_transform({hashed}, "
            f"h -> (h * {a} + {b}) % {MINHASH_P})), {MINHASH_P}) AS mh{i}"
        )
    return "SELECT doc_id, " + ", ".join(cols) + " FROM documents"


def _simhash_sql() -> str:
    """Per-doc 60-bit SimHash over 2-gram shingles."""
    sh = sql_word_shingles("text", 2)
    hashed = f"list_transform({sh}, s -> {sql_md5_int64('s')})"
    terms = []
    for i in range(60):
        vote = (
            f"list_sum(list_transform(h, x -> case when (x >> {i}) & 1 = 1 "
            f"then 1 else -1 end))"
        )
        terms.append(
            f"(case when coalesce({vote}, 0) > 0 "
            f"then (cast(1 as bigint) << {i}) else 0 end)"
        )
    return (
        f"SELECT doc_id, ({' | '.join(terms)}) AS sh "
        f"FROM (SELECT doc_id, {hashed} AS h FROM documents)"
    )


def _hash_embeddings_oracle() -> str:
    from osmquadtreepostgis_spark.functions.embed import sql_hash_embedding

    return f"""
        WITH v AS (SELECT doc_id, {sql_hash_embedding('text', 64)} AS vec
                   FROM documents)
        SELECT doc_id, cast(r.j as bigint) AS j, round(vec[r.j + 1], 4) AS val
        FROM v, (SELECT unnest(range(0, 64)) AS j) r"""


def _text_near_dup_oracle() -> str:
    from osmquadtreepostgis_spark.functions.embed import sql_hash_embedding

    cs = "list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))"
    return f"""
        WITH v AS (SELECT doc_id, {sql_hash_embedding('text', 64)} AS e
                   FROM documents)
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               round({cs}, 4) AS cos_sim
        FROM v a JOIN v b ON a.doc_id < b.doc_id
        WHERE round({cs}, 4) >= 0.92"""


def _image_near_dup_oracle() -> str:
    # cosine is scale-invariant: the L1 normalization the Spark path
    # applies cancels, so the twin runs on integer byte-bucket counts
    # (bucket = codepoint // 4 == byte // 4 for the ASCII fixture)
    return """
        WITH b AS (
          SELECT doc_id,
                 cast(floor(unicode(ch) / 4) AS int) AS bk
          FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                FROM documents)),
        cnt AS (SELECT doc_id, bk, cast(count(*) AS double) AS c
                FROM b GROUP BY 1, 2),
        nrm AS (SELECT doc_id, sqrt(sum(c * c)) AS nn FROM cnt GROUP BY 1),
        dot AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       sum(a.c * b.c) AS d
                FROM cnt a JOIN cnt b
                  ON a.bk = b.bk AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(d / (na.nn * nb.nn), 4) AS cos_sim
        FROM dot
        JOIN nrm na ON na.doc_id = id_a
        JOIN nrm nb ON nb.doc_id = id_b
        WHERE round(d / (na.nn * nb.nn), 4) >= 0.9995"""


def _curate_oracle() -> str:
    from osmquadtreepostgis_spark.functions.repetition import (
        sql_dup_ngram_frac,
        sql_top_ngram_frac,
    )

    sh3 = sql_word_shingles("text", 3)
    return f"""
        WITH RECURSIVE
        base AS (SELECT doc_id, text FROM documents WHERE doc_id >= 100),
        seen AS (SELECT doc_id, text FROM documents WHERE doc_id < 100),
        qm AS (SELECT doc_id,
                      len(string_split(text, ' ')) AS n_words,
                      length(replace(text, ' ', '')) AS total_chars,
                      length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                        AS symbols
               FROM base),
        aud1 AS (
          SELECT b.doc_id, b.text,
                 (qm.n_words >= 20
                  AND qm.total_chars / greatest(qm.n_words, 1) <= 12.0
                  AND qm.total_chars / greatest(qm.n_words, 1) >= 2.0
                  AND qm.symbols / greatest(qm.total_chars, 1) <= 0.3)
                   AS keep_quality,
                 ({sql_top_ngram_frac('b.text', 2)} <= 0.13
                  AND {sql_dup_ngram_frac('b.text', 2)} <= 0.065)
                   AS keep_repetition
          FROM base b JOIN qm ON qm.doc_id = b.doc_id),
        surv1 AS (SELECT doc_id, text FROM aud1
                  WHERE keep_quality AND keep_repetition),
        exn AS (SELECT doc_id AS id, len({sh3}) AS sz, unnest({sh3}) AS tok
                FROM surv1),
        exs AS (SELECT doc_id AS id, len({sh3}) AS sz, unnest({sh3}) AS tok
                FROM seen),
        iinter AS (
          SELECT a.id AS id_new, b.id AS id_seen, a.sz AS sa, b.sz AS sb,
                 count(*) AS i
          FROM exn a JOIN exs b ON a.tok = b.tok GROUP BY 1, 2, 3, 4),
        ihits AS (SELECT DISTINCT id_new FROM iinter
                  WHERE cast(i as double) / (sa + sb - i) >= 0.5),
        aud2 AS (
          SELECT a.*, (a.keep_quality AND a.keep_repetition
                       AND h.id_new IS NULL) AS keep_not_seen
          FROM aud1 a LEFT JOIN ihits h ON h.id_new = a.doc_id),
        surv2 AS (SELECT doc_id, text FROM aud2 WHERE keep_not_seen),
        ex2 AS (SELECT doc_id AS id, len({sh3}) AS sz, unnest({sh3}) AS tok
                FROM surv2),
        sinter AS (
          SELECT a.id AS id_a, b.id AS id_b, a.sz AS sa, b.sz AS sb,
                 count(*) AS i
          FROM ex2 a JOIN ex2 b ON a.tok = b.tok AND a.id < b.id
          GROUP BY 1, 2, 3, 4),
        pairs AS (SELECT id_a, id_b FROM sinter
                  WHERE cast(i as double) / (sa + sb - i) >= 0.5),
        e AS (SELECT id_a AS u, id_b AS v FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
        walk(id, r) AS (
          SELECT u, u FROM (SELECT DISTINCT u FROM e)
          UNION
          SELECT e.v, w.r FROM walk w JOIN e ON e.u = w.id),
        lab AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
        canon AS (
          SELECT s.doc_id,
                 (coalesce(l.comp, s.doc_id) = s.doc_id) AS keep_canonical
          FROM surv2 s LEFT JOIN lab l ON l.id = s.doc_id)
        SELECT a.doc_id, a.keep_quality, a.keep_repetition, a.keep_not_seen,
               coalesce(c.keep_canonical, FALSE) AS keep_canonical,
               (a.keep_quality AND a.keep_repetition AND a.keep_not_seen
                AND coalesce(c.keep_canonical, FALSE)) AS keep
        FROM aud2 a LEFT JOIN canon c ON c.doc_id = a.doc_id"""


def _url_normalize_oracle() -> str:
    from osmquadtreepostgis_spark.functions.urls import (
        sql_normalize_url,
        sql_registered_domain,
        sql_url_host,
    )

    url = (
        "(CASE WHEN doc_id % 3 = 0 THEN "
        "'HTTPS://News.Site' || cast(doc_id % 23 as varchar) || "
        "'.Example.CO.UK:443/p/' || cast(doc_id as varchar) || "
        "'?utm_source=x&b=' || cast(doc_id % 5 as varchar) || '&a=1#sec' "
        "WHEN doc_id % 3 = 1 THEN "
        "'http://user:pw@Host' || cast(doc_id % 23 as varchar) || "
        "'.example.com:80/q/' || cast(doc_id as varchar) || '?z=9&fbclid=ff' "
        "ELSE 'https://blog.site' || cast(doc_id % 23 as varchar) || "
        "'.org/a/' || cast(doc_id as varchar) END)"
    )
    return f"""
        SELECT doc_id,
               {sql_normalize_url(url)} AS url_norm,
               {sql_url_host(url)} AS host,
               {sql_registered_domain(url)} AS domain
        FROM documents"""


def _incremental_oracle() -> str:
    return f"""
            WITH sh AS (SELECT doc_id AS id, {sql_word_shingles('text', 3)} AS s
                        FROM documents),
            sized AS (SELECT id, s, len(s) AS sz FROM sh),
            ex AS (SELECT id, sz, unnest(s) AS tok FROM sized),
            inter AS (
              SELECT a.id AS id_new, b.id AS id_seen, a.sz AS sa, b.sz AS sb,
                     count(*) AS i
              FROM ex a JOIN ex b ON a.tok = b.tok
                   AND a.id >= 250 AND b.id < 250
              GROUP BY 1, 2, 3, 4),
            hits AS (SELECT id_new, cast(count(*) as bigint) AS n
                     FROM inter
                     WHERE cast(i as double) / (sa + sb - i) >= 0.5
                     GROUP BY id_new)
            SELECT d.doc_id, coalesce(h.n, 0) AS n_seen_dups,
                   (coalesce(h.n, 0) = 0) AS keep
            FROM documents d LEFT JOIN hits h ON h.id_new = d.doc_id
            WHERE d.doc_id >= 250"""


def _diverse_sample_oracle() -> str:
    from osmquadtreepostgis_spark.functions.embed import sql_hyperplane_bucket

    return f"""
        WITH b AS (SELECT vec_id,
                          {sql_hyperplane_bucket('embedding')} AS bucket
                   FROM embeddings),
        r AS (SELECT vec_id, bucket,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY vec_id) AS rank
              FROM b)
        SELECT vec_id, bucket, cast(rank as bigint) AS rank
        FROM r WHERE rank <= 2"""


def _cdc_oracle() -> str:
    from osmquadtreepostgis_spark.functions.cdc import sql_cdc_chunks

    return f"""
        WITH ch AS ({sql_cdc_chunks()}),
        shared AS (SELECT chunk_hash FROM ch
                   GROUP BY chunk_hash HAVING count(DISTINCT doc_id) >= 2),
        per_shared AS (
          SELECT c.doc_id, cast(count(*) as bigint) AS n_shared_chunks,
                 cast(sum(c.n_tokens) as bigint) AS shared_tokens
          FROM ch c JOIN shared s ON s.chunk_hash = c.chunk_hash
          GROUP BY c.doc_id),
        per_doc AS (SELECT doc_id, cast(count(*) as bigint) AS n_chunks
                    FROM ch GROUP BY doc_id)
        SELECT d.doc_id, d.n_chunks,
               coalesce(p.n_shared_chunks, 0) AS n_shared_chunks,
               coalesce(p.shared_tokens, 0) AS shared_tokens
        FROM per_doc d LEFT JOIN per_shared p ON p.doc_id = d.doc_id"""


def _pii_oracle() -> str:
    from osmquadtreepostgis_spark.functions.pii import (
        sql_pii_counts,
        sql_scrub_pii,
    )

    laced = (
        "(CASE WHEN doc_id % 4 = 0 THEN "
        "text || ' email bob' || cast(doc_id % 17 as varchar) || '@mail' || "
        "cast(doc_id % 17 as varchar) || '.org now' "
        "WHEN doc_id % 4 = 1 THEN "
        "text || ' call +44 20 79' || cast(doc_id % 200 + 10 as varchar) || "
        "'-09' || cast(doc_id % 200 + 10 as varchar) || ' today' "
        "WHEN doc_id % 4 = 2 THEN "
        "text || ' server 192.168.' || cast(doc_id % 200 + 10 as varchar) || "
        "'.' || cast(doc_id % 251 + 1 as varchar) || ' up' "
        "ELSE text END)"
    )
    ne, ni, np_ = sql_pii_counts(laced)
    return f"""
        SELECT doc_id,
               {sql_scrub_pii(laced)} AS clean_text,
               {ne} AS n_emails,
               {ni} AS n_ips,
               {np_} AS n_phones
        FROM documents"""


def _stream_curate_oracle() -> str:
    from osmquadtreepostgis_spark.functions.repetition import (
        sql_dup_ngram_frac,
        sql_top_ngram_frac,
    )

    nw = "len(string_split(text, ' '))"
    tc = "length(replace(text, ' ', ''))"
    sym = "length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))"
    return f"""
        WITH q AS (
          SELECT doc_id, text FROM documents
          WHERE {nw} >= 20
            AND {tc} / greatest({nw}, 1) <= 12.0
            AND {tc} / greatest({nw}, 1) >= 2.0
            AND {sym} / greatest({tc}, 1) <= 0.3
            AND {sql_top_ngram_frac('text', 2)} <= 0.13
            AND {sql_dup_ngram_frac('text', 2)} <= 0.065)
        SELECT min(doc_id) AS doc_id, count(*) - 1 AS n_dupes
        FROM q GROUP BY text"""


def _domain_stats_oracle() -> str:
    from osmquadtreepostgis_spark.functions.urls import (
        sql_registered_domain_psl,
        sql_url_host,
    )

    url = _psl_fixture_url_sql()
    psl = sql_registered_domain_psl("SELECT DISTINCT host FROM ph")
    return f"""
        WITH ph AS (SELECT {sql_url_host(url)} AS host FROM documents),
        map AS ({psl})
        SELECT m.etld1 AS domain,
               count(*) AS n_pages,
               count(DISTINCT p.host) AS n_hosts
        FROM ph p JOIN map m ON m.host = p.host
        GROUP BY 1"""


def _domain_cap_oracle() -> str:
    from osmquadtreepostgis_spark.functions.text import sql_quality_score
    from osmquadtreepostgis_spark.functions.urls import (
        sql_registered_domain_psl,
        sql_url_host,
    )

    url = _psl_fixture_url_sql()
    psl = sql_registered_domain_psl("SELECT DISTINCT host FROM pages")
    return f"""
        WITH pages AS (SELECT doc_id, {sql_url_host(url)} AS host,
                              {sql_quality_score('text')} AS q
                       FROM documents),
        map AS ({psl}),
        ranked AS (
          SELECT p.doc_id, m.etld1 AS domain, p.q,
                 row_number() OVER (PARTITION BY m.etld1
                                    ORDER BY p.q DESC, p.doc_id ASC)
                   AS rank
          FROM pages p JOIN map m ON m.host = p.host)
        SELECT doc_id, domain, q, cast(rank as bigint) AS rank
        FROM ranked WHERE rank <= 5"""


def _repetition_oracle() -> str:
    from osmquadtreepostgis_spark.functions.repetition import (
        sql_dup_line_char_frac,
        sql_dup_line_frac,
        sql_dup_ngram_frac,
        sql_top_ngram_frac,
    )

    return f"""
        SELECT doc_id,
               round({sql_dup_line_frac('text', ' ')}, 4) AS dup_line_frac,
               round({sql_dup_line_char_frac('text', ' ')}, 4)
                 AS dup_line_char_frac,
               round({sql_top_ngram_frac('text', 2)}, 4) AS top_2gram_frac,
               round({sql_dup_ngram_frac('text', 2)}, 4) AS dup_2gram_frac
        FROM documents"""


def oracle_sql() -> dict[str, str]:
    from osmquadtreepostgis_spark.functions.html import (
        sql_escape_html,
        sql_extract_text,
    )

    html_expr = f"'{_HTML_PRE}' || {sql_escape_html('text')} || '{_HTML_POST}'"
    html_ext = sql_extract_text(html_expr)
    zo = RT.sql_z_order("highway")
    mz = RT.sql_minzoom("highway", "building", "boundary", "admin_level", "way_area")
    route = RT.sql_route_extended("geom_type", "building", "type_tag", zo)
    signed = (
        "CASE WHEN geom_type = 'complicated_polygon' THEN -osm_id ELSE osm_id END"
    )
    el = EL.sql_elements_cte()
    cos = (
        "list_sum(list_transform(range(1, 65), i -> "
        "cast(a.embedding[i] as double) * cast(b.embedding[i] as double))) / "
        "sqrt(list_sum(list_transform(range(1, 65), i -> "
        "cast(a.embedding[i] as double) * cast(a.embedding[i] as double)))) / "
        "sqrt(list_sum(list_transform(range(1, 65), i -> "
        "cast(b.embedding[i] as double) * cast(b.embedding[i] as double))))"
    )
    pyramid_arms = []
    for depth in (6, 9, 11):
        pack = qt.sql_pack_xy("x", "y", CELL_DEPTH)
        pyramid_arms.append(
            f"SELECT cast({depth} as bigint) AS zoom, "
            f"{qt.sql_cell_parent(pack, depth)} AS tile, "
            f"count(*) AS n FROM cells GROUP BY 2"
        )
    from osmquadtreepostgis_spark.functions.geohash import (
        sql_geohash_chars,
        sql_geohash_key,
        sql_geohash_scaled,
    )
    from osmquadtreepostgis_spark.functions.urls import sql_registered_domain
    from osmquadtreepostgis_spark.operators.passages import sql_passage_dedup
    import re as _re

    gh_li, gh_la = sql_geohash_scaled("lon", "lat", 8)
    bl_pat = "|".join(_re.escape(k) for k in sorted(_BL_PATH_KEYWORDS))
    from osmquadtreepostgis_spark.operators.clip import sql_clip_segments

    seg_ctes = f"""{_DOCS_CTE},
            segs AS (SELECT doc_id AS seg_id, lon AS x1, lat AS y1,
                            {_SEG_X2} AS x2, {_SEG_Y2} AS y2
                     FROM docs)"""
    from osmquadtreepostgis_spark.operators.linkrank import sql_linkrank

    from osmquadtreepostgis_spark.functions.html import (
        sql_extract_links_lateral,
    )

    anchor_rows = sql_extract_links_lateral(
        "documents", _anchored_html_sql(), "doc_id"
    )
    anchor_links = f"""(
        SELECT doc_id AS src,
               cast(regexp_extract(href, '/p/([0-9]+)$', 1) as bigint) AS dst
        FROM {anchor_rows} WHERE doc_id <>
             cast(regexp_extract(href, '/p/([0-9]+)$', 1) as bigint)
    )"""
    from osmquadtreepostgis_spark.operators.tfidf import sql_unigram_surprisal

    from osmquadtreepostgis_spark.operators.geocluster import sql_epsilon_edges

    _pts = f"SELECT doc_id, {_LON} AS lon, {_LAT} AS lat FROM documents"
    _eedges = sql_epsilon_edges(_pts, 6.0, id_col="doc_id")

    from osmquadtreepostgis_spark.functions.hilbert import sql_hilbert_query

    _hilb = sql_hilbert_query(
        f"SELECT doc_id, {_LON} AS lon, {_LAT} AS lat FROM documents",
        ["doc_id"],
        order=16,
    )

    from osmquadtreepostgis_spark.operators.lines import (
        sql_strip_boilerplate_lines,
    )
    from osmquadtreepostgis_spark.operators.corpus import (
        sql_rebalance_languages,
        sql_assign_splits,
        sql_pack_chop_concat,
    )

    _line_docs = (
        "SELECT doc_id, source, text || chr(10) || 'nav-' || "
        "cast(doc_id % 7 AS varchar) || chr(10) || '(c) example corp 2026' "
        "AS text FROM documents"
    )

    from osmquadtreepostgis_spark.operators.crawl import sql_crawl_diff
    from osmquadtreepostgis_spark.operators.pyramid import sql_smooth_raster

    _cd_url = (
        "'https://s' || cast(doc_id % 101 AS varchar) || '.example.org/p' "
        "|| cast(doc_id AS varchar)"
    )
    _cd_old = (
        f"SELECT {_cd_url} AS url, md5(text) AS fingerprint "
        "FROM documents WHERE doc_id % 3 <> 2"
    )
    _cd_new = (
        f"SELECT {_cd_url} AS url, "
        "CASE WHEN doc_id % 5 = 0 THEN md5(text || 'v2') ELSE md5(text) END "
        "AS fingerprint FROM documents WHERE doc_id % 3 <> 0"
    )
    _rs_raster = (
        f"SELECT {qt.sql_point_to_cell('lon', 'lat', 4)} AS cell, "
        f"count(*) AS n FROM (SELECT {_LON} AS lon, {_LAT} AS lat "
        "FROM documents) GROUP BY 1"
    )

    sql = {
        "semantic_dedup": f"""
            WITH RECURSIVE pairs AS (
              SELECT a.vec_id AS id_a, b.vec_id AS id_b
              FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
              WHERE {cos} >= 0.4),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            walk(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM e)
              UNION
              SELECT e.v, w.r FROM walk w JOIN e ON e.u = w.id),
            lab AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
            allv AS (SELECT v.vec_id,
                            coalesce(l.comp, v.vec_id) AS cluster_id
                     FROM embeddings v LEFT JOIN lab l ON l.id = v.vec_id),
            sz AS (SELECT cluster_id, cast(count(*) AS bigint)
                     AS cluster_size
                   FROM allv GROUP BY cluster_id)
            SELECT a.vec_id, a.cluster_id, sz.cluster_size,
                   (a.vec_id = a.cluster_id) AS keep
            FROM allv a JOIN sz USING (cluster_id)""",
        "crawl_diff": sql_crawl_diff(_cd_old, _cd_new),
        "raster_smooth": sql_smooth_raster(_rs_raster, depth=4, kernel=1),
        "line_dedup": sql_strip_boilerplate_lines(_line_docs, min_docs=3),
        "lang_rebalance": sql_rebalance_languages(
            "SELECT doc_id, lang FROM documents", alpha=0.5, target_rate=0.5
        ),
        "split_assign": sql_assign_splits("SELECT doc_id, text FROM documents"),
        "sequence_pack": sql_pack_chop_concat(
            "SELECT doc_id, cast(len(string_split(text, ' ')) AS bigint) "
            "AS n_tokens FROM documents",
            context_len=512,
            n_shards=64,
        ),
        "hilbert_encode": f"""
            SELECT doc_id, hilbert_d, hilbert_d >> 16 AS hilbert_tile8
            FROM ({_hilb})""",
        "dedup_incremental_bloom": """
            SELECT n.doc_id, (s.text IS NOT NULL) AS seen_before
            FROM documents n
            LEFT JOIN (SELECT DISTINCT text FROM documents
                       WHERE doc_id % 3 = 0) s ON n.text = s.text""",
        "search_boolean": _sql_search_boolean(),
        "weighted_sample": """
            SELECT doc_id, w AS weight, round(k, 6) AS sample_key
            FROM (
              SELECT doc_id, w,
                     -ln((cast(concat('0x',
                            substr(md5(cast(doc_id as varchar) || ':ws:0'),
                                   1, 15)) as bigint) + 1.0)
                         / 1152921504606846976.0) / w AS k
              FROM (SELECT doc_id,
                           cast((doc_id % 10) + 1 as double) AS w
                    FROM documents)
              WHERE w > 0)
            ORDER BY k LIMIT 100""",
        "robots_gate": f"""
            WITH u AS (SELECT doc_id, {_robots_url_sql()} AS url
                       FROM documents),
            p AS (SELECT doc_id,
                         {sql_registered_domain('url')} AS domain,
                         regexp_extract(url,
                           '^[a-z][a-z0-9+.-]*://[^/]*(/.*)$', 1) AS path
                  FROM u),
            dom AS (SELECT range AS k,
                           'example' || cast(range as varchar) || '.org'
                             AS domain
                    FROM range(0, 37)),
            rules AS (
              SELECT domain, false AS allow, '/ads/' AS path_prefix
              FROM dom WHERE k % 2 = 0
              UNION ALL
              SELECT domain, true, '/ads/ok/' FROM dom WHERE k % 2 = 0
              UNION ALL
              SELECT domain, false, '' FROM dom WHERE k % 3 = 0
              UNION ALL
              SELECT domain, true, '' FROM dom WHERE k % 6 = 0),
            m AS (SELECT p.doc_id, p.domain, r.allow,
                         length(r.path_prefix) AS l
                  FROM p LEFT JOIN rules r
                    ON p.domain = r.domain
                   AND starts_with(p.path, r.path_prefix)),
            ranked AS (SELECT doc_id, domain, allow, l,
                              row_number() OVER (
                                PARTITION BY doc_id
                                ORDER BY l DESC NULLS LAST,
                                         allow DESC NULLS LAST) AS rn
                       FROM m)
            SELECT doc_id, domain,
                   coalesce(allow, true) AS allowed,
                   cast(coalesce(l, 0) as bigint) AS rule_len
            FROM ranked WHERE rn = 1""",
        "spatial_cluster": f"""
            WITH RECURSIVE pairs AS ({_eedges}),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            walk(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM e)
              UNION
              SELECT e.v, w.r FROM walk w JOIN e ON e.u = w.id),
            lab AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
            alldocs AS (SELECT d.doc_id,
                               coalesce(l.comp, d.doc_id) AS cluster_id
                        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
            sz AS (SELECT cluster_id, cast(count(*) AS bigint) AS cluster_size
                   FROM alldocs GROUP BY cluster_id)
            SELECT a.doc_id, a.cluster_id, sz.cluster_size
            FROM alldocs a JOIN sz USING (cluster_id)""",
        "recrawl_latest": """
            SELECT url, count(*) AS n_snapshots,
                   arg_max(doc_id, warc_ts_sec) AS latest_doc_id,
                   max(warc_ts_sec) AS latest_ts_sec
            FROM (SELECT 'https://s' || cast(doc_id % 101 as varchar)
                         || '.example.org/p' AS url,
                         doc_id,
                         1600000000 + doc_id * 37 AS warc_ts_sec
                  FROM documents)
            GROUP BY url""",
        "stream_url_gate": f"""
            WITH u AS (SELECT doc_id, {_blocklist_url_sql()} AS url
                       FROM documents),
            d AS (SELECT doc_id, url,
                         {sql_registered_domain('url')} AS domain
                  FROM u),
            bl AS (SELECT 'example' || cast(range as varchar) || '.org'
                          AS bdom
                   FROM range(0, 37) WHERE range % 4 = 0),
            g AS (SELECT d.doc_id, d.domain,
                         (b.bdom IS NOT NULL OR
                          regexp_matches(d.url, '{bl_pat}')) AS blocked
                  FROM d LEFT JOIN bl b ON d.domain = b.bdom)
            SELECT domain,
                   cast(sum(CASE WHEN blocked THEN 1 ELSE 0 END) as bigint)
                     AS n_blocked,
                   cast(sum(CASE WHEN blocked THEN 0 ELSE 1 END) as bigint)
                     AS n_kept,
                   min(doc_id) AS first_doc_id
            FROM g GROUP BY domain""",
        "lm_surprisal": sql_unigram_surprisal("documents"),
        "anchor_extract": f"""
            SELECT doc_id, link_idx, href, anchor,
                   {sql_registered_domain('href')} AS href_domain
            FROM {anchor_rows}""",
        "anchor_linkrank": sql_linkrank(
            "documents", anchor_links, iterations=2
        ),
        "linkrank": sql_linkrank("documents", _links_sql(), iterations=2),
        "tile_clip": sql_clip_segments("segs", 5, extra_ctes=seg_ctes),
        "geohash_encode": f"""
            WITH {_DOCS_CTE},
            s AS (SELECT doc_id, {gh_li} AS loni, {gh_la} AS lati FROM docs),
            k AS (SELECT doc_id,
                         {sql_geohash_key('loni', 'lati', 8)} AS gh_key
                  FROM s),
            c AS (SELECT doc_id, gh_key,
                         {sql_geohash_chars('gh_key', 8)} AS geohash
                  FROM k)
            SELECT doc_id, gh_key, geohash,
                   substring(geohash, 1, 4) AS gh4
            FROM c""",
        "passage_dedup": sql_passage_dedup("documents"),
        "url_blocklist": f"""
            WITH u AS (SELECT doc_id, {_blocklist_url_sql()} AS url
                       FROM documents),
            d AS (SELECT doc_id, url,
                         {sql_registered_domain('url')} AS domain
                  FROM u),
            bl AS (SELECT 'example' || cast(range as varchar) || '.org'
                          AS bdom
                   FROM range(0, 37) WHERE range % 4 = 0)
            SELECT d.doc_id, d.url, d.domain,
                   (b.bdom IS NOT NULL) AS blocked_domain,
                   regexp_matches(d.url, '{bl_pat}') AS blocked_path,
                   (b.bdom IS NULL AND
                    NOT regexp_matches(d.url, '{bl_pat}')) AS kept
            FROM d LEFT JOIN bl b ON d.domain = b.bdom""",
        "cell_encode": f"""
            WITH {_DOCS_CTE}, {_CELLS_CTE}
            SELECT doc_id, lon, lat, {_PACK18} AS cell,
                   {qt.sql_cell_parent(_PACK18, TILE_DEPTH)} AS tile
            FROM cells""",
        "sql_surface_cells": f"""
            WITH {_DOCS_CTE}, {_CELLS_CTE}
            SELECT doc_id, {_PACK18} AS cell,
                   {qt.sql_cell_parent(_PACK18, TILE_DEPTH)} AS tile,
                   cast({CELL_DEPTH} as bigint) AS cell_depth
            FROM cells""",
        "tile_agg": f"""
            WITH {_DOCS_CTE}, {_CELLS_CTE}, {_ENC_CTE}
            SELECT tile, count(*) AS n_docs,
                   cast(sum(n_chars) as bigint) AS sum_chars,
                   count(distinct cell) AS n_cells
            FROM enc GROUP BY tile""",
        "pip_points_in_boxes": f"""
            WITH {_DOCS_CTE}
            SELECT d.doc_id, p.poly_id FROM docs d JOIN {_BOXES} ON {_PIP_ON}""",
        "pip_shuffle_cover": f"""
            WITH {_DOCS_CTE}
            SELECT d.doc_id, p.poly_id FROM docs d JOIN {_BOXES} ON {_PIP_ON}""",
        "mine_entities": f"""
            WITH {_mine_cte()}
            SELECT doc_id, entity, lon, lat, n_occurrences
            FROM mention WHERE n_occurrences > 0""",
        "flagship_tiles": f"""
            WITH {_mine_cte()},
            m AS (SELECT * FROM mention WHERE n_occurrences > 0),
            cells AS (SELECT doc_id, entity, lon, lat, n_occurrences,
                             {_X18} AS x, {_Y18} AS y FROM m),
            enc AS (SELECT doc_id, entity, lon, lat, n_occurrences,
                           {qt.sql_cell_parent(_PACK18, TILE_DEPTH)} AS tile
                    FROM cells),
            hits AS (SELECT d.*, p.poly_id FROM enc d JOIN {_BOXES} ON {_PIP_ON})
            SELECT tile, poly_id,
                   cast(sum(n_occurrences) as bigint) AS n_mentions,
                   count(distinct doc_id) AS n_docs,
                   count(distinct entity) AS n_entities
            FROM hits GROUP BY tile, poly_id""",
        "knn_exact": f"""
            WITH {_DOCS_CTE},
            q AS (SELECT doc_id AS q_id, lon AS q_lon, lat AS q_lat
                  FROM docs WHERE doc_id % 50 = 0),
            scored AS (
              SELECT q.q_id, d.doc_id AS p_id,
                     (q.q_lon - d.lon) * (q.q_lon - d.lon)
                     + (q.q_lat - d.lat) * (q.q_lat - d.lat) AS dist2
              FROM q CROSS JOIN docs d),
            ranked AS (
              SELECT q_id, p_id,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY dist2 ASC, p_id ASC) AS rank
              FROM scored)
            SELECT q_id, p_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5""",
        # same EXACT oracle as knn_exact — the guarantee makes the grid
        # path produce identical rows
        "knn_grid": f"""
            WITH {_DOCS_CTE},
            q AS (SELECT doc_id AS q_id, lon AS q_lon, lat AS q_lat
                  FROM docs WHERE doc_id % 50 = 0),
            scored AS (
              SELECT q.q_id, d.doc_id AS p_id,
                     (q.q_lon - d.lon) * (q.q_lon - d.lon)
                     + (q.q_lat - d.lat) * (q.q_lat - d.lat) AS dist2
              FROM q CROSS JOIN docs d),
            ranked AS (
              SELECT q_id, p_id,
                     row_number() OVER (PARTITION BY q_id
                                        ORDER BY dist2 ASC, p_id ASC) AS rank
              FROM scored)
            SELECT q_id, p_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 5""",
        "routing_extended": f"""
            WITH el AS ({el})
            SELECT {signed} AS osm_id, unnest({route}) AS "table" FROM el""",
        "tag_pivot_residual": f"""
            WITH el AS ({el})
            SELECT osm_id, highway, building,
                   cast((CASE WHEN type_tag IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN boundary IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN admin_level IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN layer_tag IS NOT NULL THEN 1 ELSE 0 END)
                   + 1 as bigint) AS n_other
            FROM el""",
        "zorder_minzoom": f"""
            WITH el AS ({el})
            SELECT osm_id, {zo} AS z_order, {mz} AS minzoom FROM el""",
        # line-table routing: linestring AND z_order IS NULL (extended
        # alloc); pivoted tag cols sorted(way_cols - layer) =
        # boundary, building, highway, name; layer = try_cast bigint;
        # residual keys = {{type, admin_level, layer}}
        "style_spec_routing": f"""
            WITH el AS ({el})
            SELECT osm_id, boundary, building, highway, name,
                   try_cast(layer_tag as bigint) AS layer,
                   {zo} AS z_order, {mz} AS minzoom,
                   cast((CASE WHEN type_tag IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN admin_level IS NOT NULL THEN 1 ELSE 0 END)
                   + (CASE WHEN layer_tag IS NOT NULL THEN 1 ELSE 0 END)
                     as bigint) AS n_other
            FROM el
            WHERE geom_type = 'linestring' AND {zo} IS NULL""",
        "pyramid_counts": f"""
            WITH {_DOCS_CTE}, {_CELLS_CTE}
            {' UNION ALL '.join(pyramid_arms)}""",
        "raster_vectorize": f"""
            WITH {_DOCS_CTE},
            raster AS (
              SELECT {qt.sql_point_to_cell('lon', 'lat', 4)} AS cell,
                     count(*) AS n
              FROM docs GROUP BY 1),
            kept AS (SELECT cell, n FROM raster WHERE n >= 3),
            xy AS (SELECT cell, n,
                          {qt.sql_cell_to_xy('cell', 4)[0]} AS x,
                          {qt.sql_cell_to_xy('cell', 4)[1]} AS y
                   FROM kept)
            SELECT cell, n, x, y,
                   x / 16 * 360.0 - 180.0 AS lon_min,
                   (x + 1) / 16 * 360.0 - 180.0 AS lon_max,
                   y / 16.0 AS v_min,
                   (y + 1) / 16.0 AS v_max
            FROM xy""",
        "union_roads": f"""
            WITH el AS ({el}),
            signed AS (SELECT {signed} AS osm_id, geom_type, highway, boundary,
                              {zo} AS z_order FROM el)
            SELECT osm_id, 'highway' AS src, z_order FROM signed
            WHERE geom_type = 'linestring' AND z_order IS NOT NULL
            UNION ALL
            SELECT osm_id, 'boundary' AS src, cast(0 as bigint) AS z_order
            FROM signed WHERE osm_id < 0 AND boundary = 'administrative'""",
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(cast(sum(cast(l_quantity as decimal(18,4))) as double), 4)
                     AS sum_qty,
                   round(cast(sum(cast(l_extendedprice as decimal(18,4))) as double), 4)
                     AS sum_base_price,
                   round(cast(sum(cast(l_extendedprice * (1 - l_discount)
                     as decimal(18,4))) as double), 4) AS sum_disc_price,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus""",
        "revenue_by_nation": """
            SELECT n_name, r_name,
                   round(cast(sum(cast(l_extendedprice * (1 - l_discount)
                     as decimal(18,4))) as double), 4) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            GROUP BY n_name, r_name""",
        "top_orders_window": """
            SELECT o_custkey, o_orderkey, cast(rank as bigint) AS rank FROM (
              SELECT o_custkey, o_orderkey,
                     row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
              FROM orders) WHERE rank <= 3""",
        "semi_anti_join": """
            WITH w AS (SELECT c_mktsegment, count(*) AS n_with FROM customer
                       WHERE c_custkey IN (SELECT o_custkey FROM orders)
                       GROUP BY c_mktsegment),
            wo AS (SELECT c_mktsegment, count(*) AS n_without FROM customer
                   WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
                   GROUP BY c_mktsegment)
            SELECT coalesce(w.c_mktsegment, wo.c_mktsegment) AS c_mktsegment,
                   coalesce(n_with, 0) AS n_with,
                   coalesce(n_without, 0) AS n_without
            FROM w FULL OUTER JOIN wo ON w.c_mktsegment = wo.c_mktsegment""",
        "events_sessionize": """
            WITH g AS (
              SELECT user_id, event_id,
                     cast(epoch(ts) as bigint)
                     - lag(cast(epoch(ts) as bigint))
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       AS gap
              FROM events)
            SELECT user_id,
                   cast(sum(CASE WHEN gap IS NULL OR gap > 1800
                            THEN 1 ELSE 0 END) as bigint)
                     AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id""",
        "events_window_agg": """
            SELECT cast(epoch(date_trunc('hour', ts)) as bigint) AS win_start,
                   event_type, count(*) AS n,
                   round(cast(sum(cast(value as decimal(18,4))) as double), 4)
                     AS sum_value
            FROM events GROUP BY 1, 2""",
        "stream_stateful_sessionize": """
            WITH g AS (
              SELECT user_id, event_id,
                     cast(epoch(ts) as bigint)
                     - lag(cast(epoch(ts) as bigint))
                       OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
                       AS gap
              FROM events)
            SELECT user_id,
                   cast(sum(CASE WHEN gap IS NULL OR gap > 1800
                            THEN 1 ELSE 0 END) as bigint)
                     AS n_sessions,
                   count(*) AS n_events
            FROM g GROUP BY user_id""",
        "stream_events_window": """
            SELECT cast(epoch(date_trunc('hour', ts)) as bigint) AS win_start,
                   event_type, count(*) AS n,
                   round(cast(sum(cast(value as decimal(18,4))) as double), 4)
                     AS sum_value
            FROM events GROUP BY 1, 2""",
        "dedup_exact": """
            SELECT min(doc_id) AS doc_id, count(*) - 1 AS n_dupes
            FROM documents GROUP BY text""",
        "stream_dedup_exact": f"""
            SELECT min(doc_id) AS doc_id, count(*) - 1 AS n_dupes
            FROM documents GROUP BY {TX.sql_fingerprint('text')}""",
        "stream_curate": _stream_curate_oracle(),
        # positional 5-grams -> global occurrence count -> keep >1 ->
        # interval-union span merge: new span iff pos > lag(pos)+5,
        # i.e. past the previous covered end (lag+4) PLUS one — a gram
        # starting exactly at prev_end+1 gives contiguous coverage and
        # continues the span (ADVICE r2 #3)
        "dedup_spans": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            grams AS (
              SELECT doc_id, cast(i as bigint) AS pos,
                     array_to_string(t[i:i+4], ' ') AS g
              FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
              WHERE len(t) >= 5),
            dup AS (
              SELECT doc_id, pos,
                     count(*) OVER (PARTITION BY g) AS cnt
              FROM grams QUALIFY cnt > 1),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos > prev + 5
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM (SELECT doc_id, pos,
                           lag(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS prev
                    FROM dup))
            SELECT doc_id,
                   min(pos) AS span_start,
                   max(pos) + 4 AS span_end,
                   max(pos) + 4 - min(pos) + 1 AS n_tokens
            FROM isl GROUP BY doc_id, island""",
        "decontaminate": """
            WITH toks AS (
              SELECT doc_id, string_split(text, ' ') AS t FROM documents),
            eg AS (
              SELECT DISTINCT array_to_string(t[i:i+4], ' ') AS g
              FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
              WHERE doc_id >= 400 AND len(t) >= 5),
            grams AS (
              SELECT doc_id, cast(i as bigint) AS pos,
                     array_to_string(t[i:i+4], ' ') AS g
              FROM toks, unnest(range(1, len(t) - 3)) AS u(i)
              WHERE doc_id < 400 AND len(t) >= 5),
            hit AS (SELECT doc_id, pos FROM grams JOIN eg USING (g)),
            isl AS (
              SELECT doc_id, pos,
                     sum(CASE WHEN prev IS NULL OR pos > prev + 5
                              THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
              FROM (SELECT doc_id, pos,
                           lag(pos) OVER (PARTITION BY doc_id
                                          ORDER BY pos) AS prev
                    FROM hit)),
            sp AS (
              SELECT doc_id, island, count(*) AS nh,
                     max(pos) + 4 - min(pos) + 1 AS cov
              FROM isl GROUP BY doc_id, island),
            pd AS (
              SELECT doc_id, cast(sum(nh) as bigint) AS n_hit_grams,
                     cast(sum(cov) as bigint) AS contaminated_tokens
              FROM sp GROUP BY doc_id),
            base AS (
              SELECT doc_id, cast(len(t) as bigint) AS total_tokens
              FROM toks WHERE doc_id < 400)
            SELECT b.doc_id,
                   coalesce(pd.n_hit_grams, 0) AS n_hit_grams,
                   coalesce(pd.contaminated_tokens, 0)
                     AS contaminated_tokens,
                   b.total_tokens,
                   round(cast(coalesce(pd.contaminated_tokens, 0) as double)
                         / greatest(b.total_tokens, 1), 4)
                     AS contaminated_frac,
                   (round(cast(coalesce(pd.contaminated_tokens, 0) as double)
                          / greatest(b.total_tokens, 1), 4) <= 0.0) AS keep
            FROM base b LEFT JOIN pd USING (doc_id)""",
        "tfidf_keywords": TFIDF.sql_tfidf_topk("documents", k=5),
        "collocations": TFIDF.sql_collocations_pmi(
            "documents", min_count=5, k=50
        ),
        "dedup_ngram_jaccard": f"""
            WITH sh AS (SELECT doc_id AS id, {sql_word_shingles('text', 3)} AS s
                        FROM documents),
            sized AS (SELECT id, s, len(s) AS sz FROM sh),
            ex AS (SELECT id, sz, unnest(s) AS tok FROM sized),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sa, b.sz AS sb,
                     count(*) AS i
              FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id
              GROUP BY 1, 2, 3, 4)
            SELECT id_a, id_b,
                   round(cast(i as double) / (sa + sb - i), 4) AS jaccard
            FROM inter WHERE cast(i as double) / (sa + sb - i) >= 0.5""",
        "repetition_signals": _repetition_oracle(),
        "url_normalize": _url_normalize_oracle(),
        "dedup_url": _dedup_url_oracle(),
        "embed_quantize": _embed_quantize_oracle(),
        "domain_stats": _domain_stats_oracle(),
        "domain_cap": _domain_cap_oracle(),
        "curate_corpus": _curate_oracle(),
        # the minhash-verified mode is exact-precision; on this fixture
        # LSH recalls every >=0.5 pair (verified at sf0.001/0.01), so
        # the exact-mode oracle is its twin too
        "curate_corpus_minhash": _curate_oracle(),
        "hash_embeddings": _hash_embeddings_oracle(),
        "text_near_dup": _text_near_dup_oracle(),
        "image_near_dup": _image_near_dup_oracle(),
        "corpus_stats": f"""
            WITH d AS (SELECT {TX.sql_token_count('text')} AS ntok,
                              {TX.sql_lang_id('text')} AS lang,
                              {TX.sql_quality_score('text')} AS q
                       FROM documents),
            g AS (SELECT cast(count(*) as bigint) AS n_docs,
                         cast(sum(ntok) as bigint) AS total_tokens,
                         quantile_cont(ntok, 0.5) AS p50_tokens,
                         quantile_cont(ntok, 0.9) AS p90_tokens,
                         quantile_cont(ntok, 0.99) AS p99_tokens,
                         round(avg(q), 4) AS mean_quality
                  FROM d)
            SELECT l.lang, cast(l.lang_docs as bigint) AS lang_docs,
                   g.n_docs, g.total_tokens, g.p50_tokens, g.p90_tokens,
                   g.p99_tokens, g.mean_quality
            FROM (SELECT lang, count(*) AS lang_docs FROM d GROUP BY lang) l
            CROSS JOIN g""",
        "html_extract": f"""
            SELECT doc_id, {html_ext} AS extracted,
                   ({html_ext} = text) AS ok
            FROM documents""",
        "dedup_clusters": f"""
            WITH RECURSIVE sh AS (SELECT doc_id AS id,
                                         {sql_word_shingles('text', 3)} AS s
                                  FROM documents),
            sized AS (SELECT id, s, len(s) AS sz FROM sh),
            ex AS (SELECT id, sz, unnest(s) AS tok FROM sized),
            inter AS (
              SELECT a.id AS id_a, b.id AS id_b, a.sz AS sa, b.sz AS sb,
                     count(*) AS i
              FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id
              GROUP BY 1, 2, 3, 4),
            pairs AS (SELECT id_a, id_b FROM inter
                      WHERE cast(i as double) / (sa + sb - i) >= 0.5),
            e AS (SELECT id_a AS u, id_b AS v FROM pairs
                  UNION SELECT id_b, id_a FROM pairs),
            walk(id, r) AS (
              SELECT u, u FROM (SELECT DISTINCT u FROM e)
              UNION
              SELECT e.v, w.r FROM walk w JOIN e ON e.u = w.id),
            lab AS (SELECT id, min(r) AS comp FROM walk GROUP BY id),
            alldocs AS (SELECT d.doc_id,
                               coalesce(l.comp, d.doc_id) AS cluster_id
                        FROM documents d LEFT JOIN lab l ON l.id = d.doc_id),
            sz2 AS (SELECT cluster_id, cast(count(*) AS bigint) AS n
                    FROM alldocs GROUP BY cluster_id)
            SELECT a.doc_id, a.cluster_id, sz2.n AS cluster_size,
                   (a.doc_id = a.cluster_id) AS keep
            FROM alldocs a JOIN sz2 USING (cluster_id)""",
        "dedup_incremental": _incremental_oracle(),
        # minhash_verified mode: exact precision; at 32 hashes/16
        # bands the fixture's weakest true pair (J=0.8889) is missed
        # with probability ~1.4e-11, so the exact oracle is its twin
        "dedup_incremental_minhash": _incremental_oracle(),
        "dedup_minhash_lsh": f"""
            WITH sig AS ({_sig_sql()}),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     {' + '.join(f'(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)' for i in range(16))}
                       AS agree
              FROM sig a JOIN sig b ON a.doc_id < b.doc_id
              WHERE {' OR '.join('(' + ' AND '.join(f'a.mh{b_ * 4 + r} = b.mh{b_ * 4 + r}' for r in range(4)) + ')' for b_ in range(4))})
            SELECT id_a, id_b, round(cast(agree as double) / 16.0, 4)
              AS est_jaccard
            FROM cand""",
        "dedup_simhash": f"""
            WITH sh AS ({_simhash_sql()}),
            cand AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                     bit_count(xor(a.sh, b.sh)) AS hamming
              FROM sh a JOIN sh b ON a.doc_id < b.doc_id
              WHERE {' OR '.join(f'((a.sh >> {s * 15}) & 32767) = ((b.sh >> {s * 15}) & 32767)' for s in range(4))})
            SELECT id_a, id_b, cast(hamming as bigint) AS hamming
            FROM cand WHERE hamming <= 3""",
        "embed_cosine_pairs": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({cos}, 4) AS cos_sim
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE {cos} >= 0.4""",
        "knn_label_eval": f"""
            WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
                       WHERE vec_id < 50),
            scored AS (
              SELECT q.q_id, b.vec_id,
                     {cos.replace('a.embedding', 'q.embedding')} AS cs
              FROM q CROSS JOIN embeddings b),
            ranked AS (SELECT q_id, vec_id,
                              row_number() OVER (PARTITION BY q_id
                                ORDER BY cs DESC, vec_id ASC) AS rank
                       FROM scored),
            nb AS (SELECT r.q_id, e.label
                   FROM ranked r JOIN embeddings e ON e.vec_id = r.vec_id
                   WHERE r.rank <= 11 AND r.vec_id <> r.q_id),
            votes AS (SELECT q_id, label, count(*) AS n
                      FROM nb GROUP BY 1, 2),
            best AS (SELECT q_id, max(n) AS bn FROM votes GROUP BY 1),
            pred AS (SELECT v.q_id, min(v.label) AS pred_label
                     FROM votes v JOIN best b
                       ON b.q_id = v.q_id AND v.n = b.bn
                     GROUP BY 1)
            SELECT p.q_id, cast(p.pred_label as bigint) AS pred_label,
                   cast(e.label as bigint) AS true_label,
                   (p.pred_label = e.label) AS correct
            FROM pred p JOIN embeddings e ON e.vec_id = p.q_id""",
        "embed_topk": f"""
            WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
                       WHERE vec_id < 5),
            scored AS (
              SELECT q.q_id, b.vec_id, {cos.replace('a.embedding', 'q.embedding')} AS cs
              FROM q CROSS JOIN embeddings b),
            ranked AS (SELECT q_id, vec_id,
                              row_number() OVER (PARTITION BY q_id
                                ORDER BY cs DESC, vec_id ASC) AS rank
                       FROM scored)
            SELECT q_id, vec_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 10""",
        # IVF at n_probe = n_anchors degenerates to exact (every bucket
        # probed, each vector in exactly one bucket), so the brute
        # top-k oracle is the true answer for the scale-path plan too
        "embed_topk_ivf": f"""
            WITH q AS (SELECT vec_id AS q_id, embedding FROM embeddings
                       WHERE vec_id < 5),
            scored AS (
              SELECT q.q_id, b.vec_id, {cos.replace('a.embedding', 'q.embedding')} AS cs
              FROM q CROSS JOIN embeddings b),
            ranked AS (SELECT q_id, vec_id,
                              row_number() OVER (PARTITION BY q_id
                                ORDER BY cs DESC, vec_id ASC) AS rank
                       FROM scored)
            SELECT q_id, vec_id, cast(rank as bigint) AS rank
            FROM ranked WHERE rank <= 10""",
        "fuzzy_name_lookup": f"""
            WITH t AS (SELECT p_partkey,
                              {_sql_tri("p_name")} AS tri,
                              {_sql_tri("'smal widgett'")} AS qt
                       FROM part),
            s AS (SELECT p_partkey,
                         cast(len(list_intersect(tri, qt)) as double) /
                         (len(tri) + len(qt) - len(list_intersect(tri, qt)))
                           AS sim
                  FROM t)
            SELECT p_partkey, round(sim, 4) AS similarity
            FROM s WHERE sim >= 0.35""",
        "fuzzy_name_pairs": f"""
            WITH t AS (SELECT n_nationkey AS id, {_sql_tri("n_name")} AS tri
                       FROM nation),
            p AS (SELECT a.id AS id_a, b.id AS id_b,
                         cast(len(list_intersect(a.tri, b.tri)) as double) /
                         (len(a.tri) + len(b.tri)
                          - len(list_intersect(a.tri, b.tri))) AS j
                  FROM t a JOIN t b ON a.id < b.id)
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM p WHERE j >= 0.7""",
        "text_analysis": f"""
            SELECT doc_id,
                   {TX.sql_token_count('text')} AS n_tokens,
                   cast(len(regexp_extract_all(text, '[a-z]{{4,}}')) as bigint)
                     AS n_tokens_re,
                   {TX.sql_subword_token_count('text')} AS n_subword_tokens,
                   {TX.sql_lang_id('text')} AS lang_pred,
                   {TX.sql_quality_score('text')} AS quality,
                   {TX.sql_fingerprint('text')} AS fp
            FROM documents""",
        "quality_filter": """
            WITH q AS (
              SELECT doc_id,
                     len(string_split(text, ' ')) AS n_words,
                     length(replace(text, ' ', '')) AS total_chars,
                     length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                       AS symbols
              FROM documents),
            r AS (
              SELECT doc_id,
                     n_words >= 20 AS r_min_words,
                     total_chars / greatest(n_words, 1) <= 12.0
                       AS r_max_mean_wl,
                     total_chars / greatest(n_words, 1) >= 2.0
                       AS r_min_mean_wl,
                     symbols / greatest(total_chars, 1) <= 0.3
                       AS r_symbol_ratio
              FROM q)
            SELECT doc_id, r_min_words, r_max_mean_wl, r_min_mean_wl,
                   r_symbol_ratio,
                   (r_min_words AND r_max_mean_wl AND r_min_mean_wl
                    AND r_symbol_ratio) AS keep
            FROM r""",
        "sample_stratified": f"""
            SELECT doc_id, lang FROM documents
            WHERE ({sql_md5_int64("cast(doc_id as varchar) || ':7'")})
                  % 1000000
                  < (CASE lang WHEN 'de' THEN 0.25 WHEN 'en' THEN 0.5
                     WHEN 'fr' THEN 1.0 ELSE 0.0 END) * 1000000""",
        "cdc_dedup": _cdc_oracle(),
        "diverse_sample": _diverse_sample_oracle(),
        "pii_scrub": _pii_oracle(),
        "multimodal_meta": """
            SELECT doc_id,
                   cast(octet_length(encode(text)) as bigint) AS n_bytes,
                   cast(n_chars // 100 + 1 as bigint) AS n_frames,
                   false AS decoded
            FROM documents""",
        # frames = consecutive 64-byte chunks of the utf-8 payload
        # (ASCII fixture: byte == char), sampled every 4th; partial
        # trailing chunks are dropped (len // frame_bytes frames)
        "multimodal_frames": """
            WITH f AS (
              SELECT doc_id, text,
                     unnest(range(0, cast(octet_length(encode(text)) // 64
                                          as bigint))) AS frame_idx
              FROM documents)
            SELECT doc_id, frame_idx,
                   cast(64 as bigint) AS n_frame_bytes,
                   substr(text, cast(frame_idx * 64 + 1 as int), 64)
                     AS frame_text
            FROM f WHERE frame_idx % 4 = 0""",
    }


    def rect_area(lon0, lat0, lon1, lat1):
        A = f"round(6378137.0 * radians({lon0}), 2)"
        B = f"round(6378137.0 * radians({lon1}), 2)"
        C = f"round(6378137.0 * ln(tan(pi()/4.0 + radians({lat0})/2.0)), 2)"
        D = f"round(6378137.0 * ln(tan(pi()/4.0 + radians({lat1})/2.0)), 2)"
        c0 = f"(({A})*({C}) - ({B})*({C}))"
        c1 = f"(({B})*({D}) - ({B})*({C}))"
        c2 = f"(({B})*({D}) - ({A})*({D}))"
        c3 = f"(({A})*({C}) - ({A})*({D}))"
        return f"round(abs(((({c0} + {c1}) + {c2}) + {c3}) / 2.0), 1)"
    merc_y = lambda lat: (
        f"(6378137.0 * ln(tan(pi()/4.0 + radians({lat})/2.0)))"
    )
    merc_x = lambda lon: f"(6378137.0 * radians({lon}))"
    sql["asof_events_orders"] = """
        WITH l AS (
          SELECT o_custkey AS k, cast(epoch(o_orderdate) as bigint) AS lts,
                 round(cast(sum(cast(o_totalprice as decimal(18,4))) as double), 4)
                   AS tp
          FROM orders GROUP BY 1, 2),
        r AS (
          SELECT event_id, user_id + 1 AS k,
                 694224000 + cast(epoch(ts) as bigint) % 189216000 AS rts
          FROM events)
        SELECT r.event_id, r.k, l.tp
        FROM r ASOF LEFT JOIN l ON r.k = l.k AND r.rts >= l.lts"""
    sql["rollup_pricing"] = """
        SELECT l_returnflag, l_linestatus,
               round(cast(sum(cast(l_quantity as decimal(18,4))) as double), 4)
                 AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""
    sql["salted_tile_agg"] = f"""
        WITH {_DOCS_CTE}, {_CELLS_CTE}, {_ENC_CTE}
        SELECT tile, count(*) AS n_docs,
               cast(sum(n_chars) as bigint) AS sum_chars
        FROM enc GROUP BY tile"""
    sql["overlay_pairs"] = f"""
        WITH b AS (SELECT * FROM {fixtures.sql_box_values('q')})
        SELECT a.poly_id AS id_a, b.poly_id AS id_b
        FROM {fixtures.sql_box_values('a')} JOIN b
          ON a.poly_id < b.poly_id
         AND a.xmin < b.xmax AND b.xmin < a.xmax
         AND a.ymin < b.ymax AND b.ymin < a.ymax"""
    sql["way_assembly"] = f"""
        WITH {_DOCS_CTE},
        ex AS ({EL.sql_ways_exploded_cte()}),
        j AS (SELECT ex.way_id, ex.pos, d.lon, d.lat
              FROM ex JOIN docs d ON ex.node_id = d.doc_id),
        seg AS (
          SELECT way_id, pos,
                 sqrt(pow({merc_x('lon')} - lag({merc_x('lon')})
                          OVER (PARTITION BY way_id ORDER BY pos), 2)
                    + pow({merc_y('lat')} - lag({merc_y('lat')})
                          OVER (PARTITION BY way_id ORDER BY pos), 2)) AS s
          FROM j)
        SELECT way_id, count(*) AS n_pts,
               round(coalesce(sum(s), 0.0), 1) AS length_m
        FROM seg GROUP BY way_id"""
    sql["parent_tags"] = f"""
        WITH {_DOCS_CTE},
        ex AS ({EL.sql_ways_exploded_cte()}),
        ranked AS (
          SELECT node_id, highway,
                 row_number() OVER (
                   PARTITION BY node_id
                   ORDER BY {RT.sql_z_order('highway')} DESC NULLS LAST,
                            way_id ASC) AS rn
          FROM ex WHERE highway IS NOT NULL)
        SELECT d.doc_id AS node_id, r.highway AS parent_highway
        FROM docs d LEFT JOIN ranked r
          ON d.doc_id = r.node_id AND r.rn = 1"""
    sql["lowzoom_counts"] = f"""
        WITH el AS ({el}),
        mz AS (SELECT {mz} AS minzoom FROM el)
        SELECT cast(6 as bigint) AS zoom, count(*) AS n_visible FROM mz WHERE minzoom <= 6
        UNION ALL
        SELECT cast(9 as bigint), count(*) FROM mz WHERE minzoom <= 9
        UNION ALL
        SELECT cast(11 as bigint), count(*) FROM mz WHERE minzoom <= 11"""
    _jent = lambda k: (
        f"""CASE WHEN {k} IS NOT NULL THEN '"{k}":"' || {k} || '"' END"""
    )
    sql["json_props"] = f"""
        WITH el AS ({el})
        SELECT osm_id,
               '{{' || concat_ws(',', {_jent('admin_level')}, {_jent('boundary')},
                 {_jent('building')}, {_jent('highway')}, {_jent('name')},
                 {_jent('type_tag').replace('"type_tag"', '"type"')}) || '}}'
                 AS properties
        FROM el"""
    sql["geom_measures"] = f"""
        WITH {_DOCS_CTE},
        clamped AS (SELECT doc_id, lon, least(lat, 84.5) AS lat FROM docs)
        SELECT doc_id,
               {rect_area('lon', 'lat', 'lon + 0.5', 'lat + 0.25')} AS way_area,
               true AS is_valid
        FROM clamped"""
    sql["multipolygon_parts"] = f"""
        WITH {_DOCS_CTE},
        base AS (SELECT doc_id AS rel_id, lon, least(lat, 84.0) AS lat
                 FROM docs WHERE doc_id % 7 = 0)
        SELECT rel_id, cast(0 as bigint) AS part,
               {rect_area('lon', 'lat', 'lon + 0.4', 'lat + 0.2')} AS way_area
        FROM base
        UNION ALL
        SELECT rel_id, cast(1 as bigint),
               {rect_area('lon + 1.0', 'lat', 'lon + 1.2', 'lat + 0.2')}
        FROM base"""

    # multipolygon_chain: part 0 = rect A with a rect hole, part 1 = rect B.
    # The chained outer ring starts at P0 and runs CCW, so its shoelace
    # terms match rect_area's canonical association.  The hole ring is the
    # SECOND ring in the stacked coords array, so ring_area computes its
    # sum as cs[9]-cs[5] where cs is a running cumsum that already holds
    # the outer total T plus the outer->hole boundary cross term t4; the
    # SQL below replicates that association exactly ((((T+s0)+s1)+s2)+s3-T)
    # so the float64 bits agree with numpy's cumsum.
    Xm = lambda lo: f"round(6378137.0 * radians({lo}), 2)"
    Ym = lambda la: f"round(6378137.0 * ln(tan(pi()/4.0 + radians({la})/2.0)), 2)"
    ca, cb = Xm("lon"), Xm("lon + 0.4")
    cc, cd = Ym("lat"), Ym("lat + 0.2")
    he, hf = Xm("lon + 0.1"), Xm("lon + 0.2")
    hg, hh = Ym("lat + 0.05"), Ym("lat + 0.1")
    t0 = f"(({ca})*({cc}) - ({cb})*({cc}))"
    t1 = f"(({cb})*({cd}) - ({cb})*({cc}))"
    t2 = f"(({cb})*({cd}) - ({ca})*({cd}))"
    t3 = f"(({ca})*({cc}) - ({ca})*({cd}))"
    t4 = f"(({ca})*({hg}) - ({he})*({cc}))"  # P4(=P0) x H0 boundary cross
    outer_sum = f"((({t0} + {t1}) + {t2}) + {t3})"
    tacc = f"({outer_sum} + {t4})"
    # hole ring vertex order after CW chaining: H0,H3,H2,H1,H0
    s0 = f"(({he})*({hh}) - ({he})*({hg}))"
    s1 = f"(({he})*({hh}) - ({hf})*({hh}))"
    s2 = f"(({hf})*({hg}) - ({hf})*({hh}))"
    s3 = f"(({hf})*({hg}) - ({he})*({hg}))"
    hole_sum = f"(((((({tacc} + {s0}) + {s1}) + {s2}) + {s3})) - {tacc})"
    part0_area = (
        f"round(abs({outer_sum} / 2.0) - abs({hole_sum} / 2.0), 1)"
    )
    sql["multipolygon_chain"] = f"""
        WITH {_DOCS_CTE},
        base AS (SELECT doc_id AS rel_id, lon, least(lat, 84.0) AS lat
                 FROM docs WHERE doc_id % 11 = 3)
        SELECT rel_id, cast(0 as bigint) AS part, {part0_area} AS way_area
        FROM base
        UNION ALL
        SELECT rel_id, cast(1 as bigint),
               {rect_area('lon + 1.0', 'lat', 'lon + 1.2', 'lat + 0.2')}
        FROM base"""
    from osmquadtreepostgis_spark.sources.corpus_synth import (
        sql_synth_documents,
    )

    # exact-Jaccard pairs over the INDEPENDENTLY REGENERATED planted
    # corpus — the banded+verified Spark path must match exactly
    # (threshold-derived geometry: miss < 1e-6)
    sql["synth_dedup_pairs"] = f"""
        WITH sdocs AS ({sql_synth_documents(800)}),
        sh AS (SELECT doc_id AS id, {sql_word_shingles('text', 3)} AS s
               FROM sdocs),
        sized AS (SELECT id, s, len(s) AS sz FROM sh),
        ex AS (SELECT id, sz, unnest(s) AS tok FROM sized),
        inter AS (
          SELECT a.id AS id_a, b.id AS id_b, a.sz AS sa, b.sz AS sb,
                 count(*) AS i
          FROM ex a JOIN ex b ON a.tok = b.tok AND a.id < b.id
          GROUP BY 1, 2, 3, 4)
        SELECT id_a, id_b,
               round(cast(i as double) / (sa + sb - i), 4) AS jaccard
        FROM inter WHERE cast(i as double) / (sa + sb - i) >= 0.5"""
    return sql
