"""C4-style passage-level global deduplication.

The public C4 / Common-Crawl cleaning recipe deduplicates at
sub-document granularity: every occurrence of a repeated line except
one is dropped, then documents are re-assembled from their surviving
lines.  The synthetic corpus has no newlines, so the unit here is a
fixed-width *passage* (``words_per_passage`` consecutive whitespace
tokens) — the same operator shape at the same scale point.

Reference analog: the reference dedups at element granularity on
re-import (element id keyed, /root/reference/osmquadtreepostgis/
__init__.py import path); this is the text-payload counterpart the
graft mission needs at 10^12 pages.

Scale shape (the part that must survive 100 TB):

* explode → passages is a codegen'd projection (split + slice), no
  Python, no shuffle;
* the winner table is ONE hash groupBy on the passage fingerprint
  with a ``min`` — map-side partial aggregation collapses the heavy
  hitters (exactly the duplicated passages this operator exists to
  kill) before the shuffle;
* survivors come from ONE hash join back on the fingerprint (AQE
  skew-join splits a passage repeated millions of times);
* re-assembly is ONE groupBy on doc id — bounded state per doc.

No window over the corpus, no driver state, no cartesian.  Global
first-occurrence semantics (min (doc_id, idx)) keep the result
deterministic and order-independent, unlike "keep whichever task saw
it first" dropDuplicates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sketches import md5_int64, sql_md5_int64
from ..session import fanout_small_scan

__all__ = ["explode_passages", "passage_dedup", "sql_passage_dedup"]


def explode_passages(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_passage: int = 8,
) -> DataFrame:
    """(id, idx, passage): consecutive ``words_per_passage``-token
    chunks of ``text_col``, 0-indexed in document order.  Pure Column
    (split/slice/transform) — stays in whole-stage codegen."""
    w = int(words_per_passage)
    if w < 1:
        raise ValueError("words_per_passage must be >= 1")
    toks = F.split(F.col(text_col), " ")
    chunks = F.expr(
        f"transform(sequence(0, (size(__toks) - 1) div {w}), i -> "
        f"struct(cast(i as bigint) as idx,"
        f" array_join(slice(__toks, i * {w} + 1, {w}), ' ') as passage))"
    )
    return (
        df.withColumn("__toks", toks)
        .select(F.col(id_col), F.explode(chunks).alias("__p"))
        .select(id_col, F.col("__p.idx").alias("idx"), F.col("__p.passage").alias("passage"))
    )


def passage_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_passage: int = 8,
    idx_bound: int = 1 << 20,
) -> DataFrame:
    """Global passage dedup with per-document re-assembly.

    Returns one row per input document: ``(id, n_passages, n_kept,
    text_kept)`` where ``text_kept`` re-joins (in original order) the
    passages for which THIS (doc, idx) is the global first occurrence
    — first = minimal ``doc_id * idx_bound + idx``, so the survivor
    set is deterministic under any execution order.  ``idx_bound``
    must exceed the passage count of the longest document (2^20 words
    ≈ 8 MB of text at the default width; raise it for giant docs —
    the rank stays inside int64 for doc ids < 2^43).
    """
    p = explode_passages(fanout_small_scan(df), id_col, text_col, words_per_passage)
    p = p.withColumn("__h", md5_int64(F.col("passage"))).withColumn(
        "__rank", F.col(id_col) * F.lit(int(idx_bound)) + F.col("idx")
    )
    winners = p.groupBy("__h").agg(F.min("__rank").alias("__win"))
    kept = p.join(winners, "__h").withColumn(
        "__kept", F.col("__rank") == F.col("__win")
    )
    return kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.col("__kept").cast("long")).alias("n_kept"),
        F.array_join(
            F.expr(
                "transform(array_sort(collect_list("
                "CASE WHEN __kept THEN struct(idx, passage) END)), s -> s.passage)"
            ),
            " ",
        ).alias("text_kept"),
    )


def sql_passage_dedup(
    docs_rel: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    words_per_passage: int = 8,
    idx_bound: int = 1 << 20,
) -> str:
    """DuckDB twin of :func:`passage_dedup` (same chunking, same
    fingerprint, same global-first-occurrence rank)."""
    w = int(words_per_passage)
    toks = f"string_split({text_col}, ' ')"
    # DuckDB list_slice is 1-based inclusive on both ends
    chunk = (
        f"array_to_string(list_slice(toks, i * {w} + 1, i * {w} + {w}), ' ')"
    )
    h = sql_md5_int64("passage")
    return f"""
        WITH __pd_toks AS (
          SELECT {id_col}, {toks} AS toks FROM {docs_rel}
        ),
        __pd_pass AS (
          SELECT {id_col}, cast(i as bigint) AS idx, {chunk} AS passage
          FROM __pd_toks,
               unnest(range(0, ((len(toks) - 1) // {w}) + 1)) AS t(i)
        ),
        __pd_ranked AS (
          SELECT {id_col}, idx, passage, {h} AS h,
                 {id_col} * {int(idx_bound)} + idx AS rnk
          FROM __pd_pass
        ),
        __pd_win AS (
          SELECT h, min(rnk) AS win FROM __pd_ranked GROUP BY h
        ),
        __pd_kept AS (
          SELECT r.*, (r.rnk = w.win) AS kept
          FROM __pd_ranked r JOIN __pd_win w USING (h)
        )
        SELECT {id_col},
               count(*) AS n_passages,
               cast(coalesce(sum(CASE WHEN kept THEN 1 END), 0) as bigint)
                 AS n_kept,
               coalesce(string_agg(CASE WHEN kept THEN passage END, ' '
                                   ORDER BY idx), '') AS text_kept
        FROM __pd_kept
        GROUP BY {id_col}"""
