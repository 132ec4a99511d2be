"""Content-defined chunking via a TRUE polynomial rolling hash,
pure-Column + DuckDB twin.

The corpus fingerprint in :mod:`.text` is an md5 whole-document
stand-in; this module is the real rolling-hash construction the
training-data mandate names: a Rabin-Karp polynomial hash slides a
``window``-token window over the document, positions whose hash is 0
mod ``2**mask_bits`` become chunk boundaries, and each chunk gets a
content hash. Because boundaries depend only on LOCAL content, an
edit perturbs at most the chunks it touches — insert a paragraph and
every chunk outside it keeps its hash, which is what makes
chunk-level share detection robust to shifted text where fixed-size
blocks would misalign everywhere.

Arithmetic is exact int64 in both engines: token hashes are the
portable md5-int64 reduced mod P = 1e9+7 (< 2^30), the Horner fold
keeps every intermediate under P*B + P < 2^38, and the same fold is
emitted for DuckDB — chunk boundaries and hashes are bit-identical.

Scale shape: chunking is per-row Column work fused into the scan
(token array referenced as a materialized column, never an inline
expression — the nested-HOF re-evaluation trap); share detection is
one chunk_hash-keyed groupBy (AQE-splittable) + a semi join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import fanout_small_scan
from .sketches import md5_int64, sql_md5_int64

__all__ = [
    "CDC_B",
    "CDC_P",
    "cdc_chunks",
    "sql_cdc_chunks",
]

CDC_B = 131
CDC_P = 1_000_000_007


def _rolling(hs: Column, p: Column, window: int) -> Column:
    """Horner fold of the window starting at 1-based position p."""
    h: Column = F.lit(0).cast("long")
    for j in range(window):
        h = (h * CDC_B + F.element_at(hs, (p + j).cast("int"))) % CDC_P
    return h


def cdc_chunks(
    df: DataFrame,
    window: int = 4,
    mask_bits: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per content-defined chunk:
    ``(id_col, chunk_idx, chunk_hash, n_tokens)``.

    A window start p (2 <= p <= S-window+1) is a boundary iff the
    rolling hash of tokens[p .. p+window-1] ≡ 0 mod 2**mask_bits —
    expected chunk length ~2**mask_bits tokens. Documents shorter
    than window+1 tokens are one whole-document chunk. NULL-text rows
    are filtered out up front (same as the twin's WHERE clause)."""
    mask = 1 << mask_bits
    toks = F.split(F.col(text_col), " ")
    base = fanout_small_scan(df).filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        toks.alias("__toks"),
        F.size(toks).alias("__s"),
    )
    hs = F.transform(F.col("__toks"), lambda t: md5_int64(t) % CDC_P)
    base = base.withColumn("__hs", hs)
    starts = F.when(
        F.col("__s") >= window + 1,
        F.sequence(F.lit(2).cast("long"), (F.col("__s") - (window - 1)).cast("long")),
    ).otherwise(F.array().cast("array<long>"))
    cuts = F.filter(
        starts, lambda p: _rolling(F.col("__hs"), p, window) % mask == 0
    )
    b = F.concat(
        F.array(F.lit(1).cast("long")),
        cuts,
        F.array((F.col("__s") + 1).cast("long")),
    )
    base = base.withColumn("__b", b)
    n_chunks = F.size("__b") - 1
    chunk = F.transform(
        F.sequence(F.lit(1), n_chunks),
        lambda c: F.struct(
            c.cast("long").alias("chunk_idx"),
            md5_int64(
                F.concat_ws(
                    " ",
                    F.slice(
                        F.col("__toks"),
                        F.element_at("__b", c.cast("int")).cast("int"),
                        (
                            F.element_at("__b", (c + 1).cast("int"))
                            - F.element_at("__b", c.cast("int"))
                        ).cast("int"),
                    ),
                )
            ).alias("chunk_hash"),
            (
                F.element_at("__b", (c + 1).cast("int"))
                - F.element_at("__b", c.cast("int"))
            ).alias("n_tokens"),
        ),
    )
    return base.select(
        id_col, F.explode(chunk).alias("__c")
    ).select(
        id_col,
        F.col("__c.chunk_idx").alias("chunk_idx"),
        F.col("__c.chunk_hash").alias("chunk_hash"),
        F.col("__c.n_tokens").alias("n_tokens"),
    )


def sql_cdc_chunks(
    source: str = "documents",
    window: int = 4,
    mask_bits: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB twin: same boundaries, same hashes, as a full SELECT
    producing (id, chunk_idx, chunk_hash, n_tokens)."""
    mask = 1 << mask_bits
    fold = "0"
    for j in range(window):
        fold = f"(({fold} * {CDC_B} + hs[cast(p + {j} as int)]) % {CDC_P})"
    return f"""
        WITH t0 AS (
          SELECT {id_col} AS id, string_split({text_col}, ' ') AS t,
                 len(string_split({text_col}, ' ')) AS s
          FROM {source} WHERE {text_col} IS NOT NULL),
        h0 AS (
          SELECT id, t, s,
                 list_transform(t, x -> {sql_md5_int64('x')} % {CDC_P}) AS hs
          FROM t0),
        c0 AS (
          SELECT id, t, s,
                 list_prepend(cast(1 as bigint), list_append(
                   list_filter(
                     CASE WHEN s >= {window + 1}
                       THEN range(2, s - {window - 1} + 1)
                       ELSE cast([] as bigint[]) END,
                     p -> {fold} % {mask} = 0),
                   cast(s + 1 as bigint))) AS b
          FROM h0)
        SELECT id AS {id_col}, cast(c as bigint) AS chunk_idx,
               {sql_md5_int64("array_to_string(array_slice(t, cast(b[cast(c as int)] as int), cast(b[cast(c as int) + 1] as int) - 1), ' ')")}
                 AS chunk_hash,
               b[cast(c as int) + 1] - b[cast(c as int)] AS n_tokens
        FROM c0 CROSS JOIN unnest(range(1, len(b))) AS u(c)"""
