"""The flagship end-to-end pipeline: mine → encode → PIP → tile-assign.

This is the engine's ``write_to_postgis`` analog (reference lifecycle
at /root/reference/osmquadtreepostgis/__init__.py:465-516, SURVEY.md
§3.1), re-shaped for web pages: geo-entities mined from text play the
role of OSM elements; cell encode replaces the oqt quadtree
assignment; the broadcast PIP join replaces query-time gist lookups;
the tile groupBy is the block/tile organization.

Scale notes (the 100 TB plan):
* mining + encoding are narrow (no shuffle);
* the PIP join is broadcast (zero shuffle on the page side);
* the single shuffle is the final groupBy on ``tile`` — a
  range-friendly int64 spatial key, AQE-coalesced;
* ``doc_coords`` synthesis is pure int64 Column math (exactly
  mirrored in oracle SQL).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.mine import mine_coordinate_mentions, mine_gazetteer_terms
from ..operators.pip import PolygonIndex, pip_probe_arrow
from ..quadtree import CELL_DEPTH, TILE_DEPTH
from ..sources import fixtures

__all__ = [
    "doc_coords",
    "sql_doc_coords",
    "load_table",
    "fixture_polygon_index",
    "documents_pipeline",
    "pages_pipeline",
    "run_pages_checkpointed",
    "CELL_DEPTH",
    "TILE_DEPTH",
]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


@functools.cache
def fixture_polygon_index() -> PolygonIndex:
    """The fixture polygon layer's depth-6 index, built once per process
    from the fixture rows' WKB (no DataFrame round trip) and shared by
    every flagship plan, so its broadcast is made once per
    SparkContext too."""
    return PolygonIndex.from_rows(fixtures.polygon_rows(), depth=6)


def doc_coords(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic synthetic coordinates from the id — integer math
    only, identical in Spark and the DuckDB oracle (FIXTURES.md §6)."""
    h1 = (F.col(id_col) * F.lit(1103515245) + F.lit(12345)) % F.lit(2147483648)
    h2 = (h1 * F.lit(69069) + F.lit(1)) % F.lit(2147483648)
    return df.withColumn("lon", (h1 % 360000000) / 1e6 - 180.0).withColumn(
        "lat", (h2 % 170000000) / 1e6 - 85.0
    )


def sql_doc_coords(id_col: str = "doc_id") -> tuple[str, str]:
    """The oracle-SQL twin of doc_coords -> (lon_expr, lat_expr)."""
    h1 = f"(({id_col} * 1103515245 + 12345) % 2147483648)"
    h2 = f"(({h1} * 69069 + 1) % 2147483648)"
    return (
        f"(({h1} % 360000000) / 1e6 - 180.0)",
        f"(({h2} % 170000000) / 1e6 - 85.0)",
    )


def documents_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship over the driver's documents table: mine gazetteer
    entities from text → broadcast PIP probe against the polygon layer
    (which also emits the depth-8 tile key) → per-tile aggregate.

    Output: (tile, poly_id, n_mentions, n_docs, n_entities) sorted.
    """
    docs = load_table(spark, sf_dir, "documents")
    mentions = mine_gazetteer_terms(docs)  # doc_id, entity, lon, lat, n_occurrences
    # running progress counters (the reference's 4-counter progress
    # line, docs/output.txt:16,69) — read via df.observe listeners
    mentions = mentions.observe(
        "mine_metrics",
        F.count(F.lit(1)).alias("n_mentions"),
        F.sum("n_occurrences").alias("n_occurrences"),
    )
    hits = pip_probe_arrow(mentions, fixture_polygon_index())
    return (
        hits.groupBy("tile", "poly_id")
        .agg(
            F.sum("n_occurrences").alias("n_mentions"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.countDistinct("entity").alias("n_entities"),
        )
        .orderBy("tile", "poly_id")
    )


def run_pages_checkpointed(
    pages: DataFrame,
    out_dir: str,
    n_buckets: int = 64,
    resume: bool = True,
) -> dict:
    """The resumable production entry point (BASELINE.json mandate —
    the reference's single 6-hour transaction has no resume,
    src/postgiswriter.cpp:1256): run the flagship pipeline and write
    per-tile-bucket outputs + lineage via CheckpointedWriter. A killed
    run re-invoked with resume=True anti-joins completed buckets and
    only computes the remainder. Returns the writer's stats dict."""
    from .checkpoint import CheckpointedWriter

    tiles = pages_pipeline(pages)
    w = CheckpointedWriter(out_dir, n_buckets=n_buckets, bucket_key="tile")
    return w.write(tiles, resume=resume)


def pages_pipeline(pages: DataFrame) -> DataFrame:
    """The same flagship over a Common-Crawl-style pages table
    (url, warc_ts, html, text, lang) — the bench workload.

    Regex-mines explicit coordinate mentions, PIP-joins (emitting the
    tile key), tile-aggregates. The per-row invariant: ``text`` is only
    read.
    """
    mentions = mine_coordinate_mentions(pages)
    # pre-hash url AND entity JVM-side BEFORE the fused Python stage:
    # the downstream aggregate only needs them for
    # approx_count_distinct, which hashes anyway — two int64s through
    # Arrow instead of a ~50-byte url + ~15-byte entity shrink the
    # Python-stage traffic (the pipeline's dominant memory-bandwidth
    # consumer at high core counts) to 4 fixed-width columns
    mentions = mentions.select(
        F.xxhash64("url").alias("url_h"),
        F.xxhash64("entity").alias("entity_h"),
        "lon",
        "lat",
    )
    # the tile key comes out of the PIP stage's own trig pass
    # (point_to_cell(lon, lat, TILE_DEPTH) equals cell_parent(
    # point_to_cell(lon, lat, 18), 8) by the Morton prefix property).
    # Encoding it JVM-side instead (functions.cells.cell_encode_col)
    # keeps one int64 per hit off the Arrow exchange, but its generated
    # expression costs every plan: measured on 4 vCPUs over 2k pages,
    # +6-8 ms planning and +15-50 ms wall per job, which a stream pays
    # again on every micro-batch
    hits = pip_probe_arrow(mentions, fixture_polygon_index())
    # approx_count_distinct (HLL): map-side-combinable sketch state —
    # exact countDistinct over billions of hit rows would expand the
    # aggregate state to the full url set per (tile, poly) and
    # dominate the job (measured: 4x data -> >>4x time); the oracle-
    # checked documents_pipeline keeps exact distincts at small scale
    return hits.groupBy("tile", "poly_id").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.approx_count_distinct("url_h").alias("n_pages_approx"),
        F.approx_count_distinct("entity_h").alias("n_entities_approx"),
    )
