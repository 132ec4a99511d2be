"""Output sinks (SURVEY.md §2.1 S3-S6).

* ``write_tables_parquet`` — the PostGIS-COPY analog: one table dir
  per routed output table, tile-range-clustered (S3; the reference's
  single-transaction COPY, src/postgiswriter.cpp:1193-1328, maps to
  atomic per-table overwrite).
* ``write_tables_csv_gz`` — gzip CSV per table, header once, WKB hex
  at the export boundary (S4, src/postgis_python.cpp:168-203).
* ``dry_run_counts`` — row+byte counts per table instead of writing
  (S6, the connstring=="null" counting sink,
  src/postgiswriter.cpp:1338-1360).
* ``foreach_batch_sink`` — user-callback sink for streaming
  micro-batches (X3, the reference's csvblock python callback,
  src/postgis_python.cpp:136-158).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "write_tables_parquet",
    "write_tables_csv_gz",
    "write_tables_copy_text",
    "write_tee",
    "hstore_literal",
    "copy_text_row",
    "write_jsonl_gz",
    "dry_run_counts",
    "foreach_batch_sink",
]


def _split_by_table(routed: DataFrame, table_col: str = "table"):
    tables = [r[0] for r in routed.select(table_col).distinct().collect()]
    for t in sorted(tables):
        yield t, routed.filter(F.col(table_col) == t).drop(table_col)


def write_tables_parquet(
    routed: DataFrame, out_dir: str, table_col: str = "table", cluster_col: str | None = "tile"
) -> dict[str, str]:
    """One parquet table per routed target, optionally range-clustered
    by tile so file min/max stats prune tile-range scans (the
    gist-index replacement)."""
    paths = {}
    for t, df in _split_by_table(routed, table_col):
        if cluster_col and cluster_col in df.columns:
            df = df.repartitionByRange(cluster_col)
        path = f"{out_dir.rstrip('/')}/{t}"
        df.write.mode("overwrite").parquet(path)
        paths[t] = path
    return paths


def write_tables_csv_gz(
    routed: DataFrame, out_dir: str, table_col: str = "table"
) -> dict[str, str]:
    """gzip CSV per table; binary columns hex-encoded, map columns
    json-encoded at the export boundary (the reference only
    stringifies on the wire, src/postgiswriter.cpp:232-240)."""
    paths = {}
    for t, df in _split_by_table(routed, table_col):
        cols = []
        for f in df.schema.fields:
            c = F.col(f.name)
            if f.dataType.typeName() == "binary":
                c = F.hex(c)
            elif f.dataType.typeName() in ("map", "array", "struct"):
                c = F.to_json(c)
            cols.append(c.alias(f.name))
        path = f"{out_dir.rstrip('/')}/{t}.csv"
        (
            df.select(cols)
            .write.mode("overwrite")
            .option("header", True)
            .option("compression", "gzip")
            .csv(path)
        )
        paths[t] = path
    return paths


def hstore_literal(m) -> Column:
    """PostgreSQL hstore TEXT literal from a map column (F4, the
    reference's pack_hstoretags at src/postgiswriter.cpp:404; the
    packer body lives in its oqt dependency, so the byte format here is
    the documented PG hstore text representation):
    ``"k"=>"v", "k2"=>"v2"`` with ``\\`` and ``"`` backslash-escaped
    inside the quotes. Entries sorted by key for determinism (hstore is
    unordered; COPY round-trips either way). Pure-Column — higher-order
    transform + aggregate, no Python."""
    m = F.col(m) if isinstance(m, str) else m

    def esc(c):
        return F.regexp_replace(
            F.regexp_replace(c, r"\\", r"\\\\"), '"', r'\\"'
        )

    ent = F.transform(
        F.sort_array(F.map_entries(m)),
        lambda e: F.concat(
            F.lit('"'), esc(e["key"]), F.lit('"=>"'), esc(e["value"]), F.lit('"')
        ),
    )
    return F.array_join(ent, ", ")


def _copy_text_value(c: Column, type_name: str) -> Column:
    """One value in PostgreSQL COPY TEXT format: strings get the COPY
    backslash escapes (backslash, tab, newline, CR), bytea is \\x hex
    (the leading backslash itself escaped on the wire), hstore maps go
    through hstore_literal then string escaping. NULL handled by the
    caller (\\N)."""
    if type_name == "binary":
        return F.concat(F.lit(r"\\x"), F.lower(F.hex(c)))
    if type_name == "map":
        c = hstore_literal(c)
    elif type_name != "string":
        return c.cast("string")
    s = F.regexp_replace(c, r"\\", r"\\\\")
    s = F.regexp_replace(s, "\t", r"\\t")
    s = F.regexp_replace(s, "\n", r"\\n")
    s = F.regexp_replace(s, "\r", r"\\r")
    return s


def copy_text_row(df: DataFrame) -> Column:
    """Whole row as one PostgreSQL COPY TEXT line (tab-delimited,
    ``\\N`` for NULL) — byte-compatible with ``COPY tbl FROM ... WITH
    (FORMAT text)``, the reference's load path
    (src/postgiswriter.cpp:1193-1328)."""
    parts = [
        F.coalesce(
            _copy_text_value(F.col(f.name), f.dataType.typeName()), F.lit(r"\N")
        )
        for f in df.schema.fields
    ]
    return F.concat_ws("\t", *parts)


def write_tables_copy_text(
    routed: DataFrame, out_dir: str, table_col: str = "table"
) -> dict[str, str]:
    """One gzip COPY-text file tree per routed table — pipe into
    ``COPY <t> FROM PROGRAM 'zcat …' WITH (FORMAT text)`` for an actual
    PostGIS load without a JDBC driver in the cluster."""
    paths = {}
    for t, df in _split_by_table(routed, table_col):
        path = f"{out_dir.rstrip('/')}/{t}.copy"
        (
            df.select(copy_text_row(df).alias("value"))
            .write.mode("overwrite")
            .option("compression", "gzip")
            .text(path)
        )
        paths[t] = path
    return paths


def write_tee(
    routed: DataFrame,
    parquet_dir: str,
    copy_dir: str,
    table_col: str = "table",
) -> dict[str, dict[str, str]]:
    """The reference's re-pack TEE (S7): while loading PostGIS it can
    simultaneously re-pack the stream to a PBF file (``params.outfn``,
    src/processpostgis.cpp:127-129). Spark analog: persist the routed
    frame once and drive BOTH sinks from the same materialization —
    parquet (primary) + COPY text (the PG-loadable secondary)."""
    routed = routed.persist()
    try:
        out = {
            "parquet": write_tables_parquet(routed, parquet_dir, table_col),
            "copy": write_tables_copy_text(routed, copy_dir, table_col),
        }
    finally:
        routed.unpersist()
    return out


def write_jsonl_gz(
    df: DataFrame,
    path: str,
    shard_col: str | None = None,
    num_shards: int | None = None,
) -> str:
    """Sharded gzip JSONL export — the interchange format training
    loaders consume (one JSON object per line, .json.gz parts).

    Spark's json writer IS JSONL (one object per line per part file);
    gzip rides the codec option, so the export is a single distributed
    write with no driver involvement. ``shard_col`` repartitions by a
    column (e.g. the pack id from
    :func:`..operators.corpus.pack_sequences`, keeping a pack's docs
    in one shard); ``num_shards`` fixes the part count — at 100 TB
    pick shards so each lands in the 100 MB-1 GB range loaders like.
    Overwrites ``path`` atomically (Spark staging commit)."""
    out = df
    if shard_col is not None and num_shards is not None:
        out = out.repartition(num_shards, shard_col)
    elif shard_col is not None:
        out = out.repartition(shard_col)
    elif num_shards is not None:
        out = out.repartition(num_shards)
    out.write.mode("overwrite").option("compression", "gzip").json(path)
    return path


def dry_run_counts(routed: DataFrame, table_col: str = "table") -> DataFrame:
    """Per-table row + approximate byte counts without writing."""
    sz = F.lit(0)
    for f in routed.schema.fields:
        if f.name == table_col:
            continue
        c = F.col(f.name)
        if f.dataType.typeName() == "binary":
            sz = sz + F.coalesce(F.octet_length(c), F.lit(0))
        else:
            sz = sz + F.coalesce(F.octet_length(c.cast("string")), F.lit(0))
    return (
        routed.withColumn("__bytes", sz)
        .groupBy(table_col)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("__bytes").alias("n_bytes"),
        )
    )


def foreach_batch_sink(streaming_df: DataFrame, fn, name: str = "fb_sink"):
    """Run a bounded stream through a per-micro-batch user callback
    ``fn(batch_df, batch_id)`` to completion (EOS flush analog)."""
    q = streaming_df.writeStream.outputMode("update").foreachBatch(fn).queryName(
        name
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
