"""The three workloads: inputs from the seed, one closed-loop job, the
traced twin of that job, the reference answer and the output checks.

Each workload calls one production entry point of the engine:

* ``tiles``        -- plans.pipeline.run_pages_checkpointed
* ``curate``       -- plans.curation.curate_corpus (exact pair mode)
* ``tiles_stream`` -- streaming.stream.stream_pages_flagship

Sizes are chosen so that one job takes a few seconds on a 4-core host
and a run of a few jobs stays well under a minute including Spark's
start; see the module constants.
"""

from __future__ import annotations

import shutil
import time
from collections import Counter
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from osmquadtreepostgis_spark.sources import fixtures
from osmquadtreepostgis_spark.sources.pages import (
    expected_mentions_pdf,
    synthesize_pdf,
)

# tiles: enough pages that mine + PIP outweigh the writer's fixed cost.
# Traced on 4 vCPUs at 200k pages (four seeds): mine + PIP self time
# 2.2-2.4 s (executor run time 6.2-6.7 s) against the checkpoint writer's
# 1.0-1.2 s (executor run time 0.6-0.7 s) in a 4.8-4.9 s traced job.
TILES_PAGES = 200_000
TILES_FILES = 8
# tiles_stream: one small file per micro-batch, so per-batch fixed cost shows
STREAM_FILE_PAGES = 2_000
STREAM_FILES = 6
# curate: ~65 Spark jobs per pass, so fixed cost dominates: a warm pass over
# 1k docs takes ~9 s on 4 cores, not much less over fewer docs. A 12 s
# measuring window then times one job (the loop starts no job with less
# than half a job's time left).
CURATE_DOCS = 1_000
CURATE_ID_STRIDE = 5
SEEN_BELOW = 100  # mapped ids below this form the `seen` slice (first 20 docs)


def splitmix64(x: int) -> int:
    x = (x + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return x ^ (x >> 31)


def page_start(seed: int, n: int) -> int:
    """First page index for a seed. Indices stay 9-digit so url and
    text lengths, and so the work per page, do not depend on the seed."""
    return 10**8 + splitmix64(seed) % (9 * 10**8 - n)


def write_pages(idx: np.ndarray, path: Path) -> None:
    """Pages rows for ``idx`` as one parquet file. ``warc_ts`` is
    written UTC-adjusted so Spark reads it as TimestampType (the
    engine's pages schema)."""
    t = pa.Table.from_pandas(synthesize_pdf(idx), preserve_index=False)
    i = t.schema.get_field_index("warc_ts")
    t = t.set_column(i, "warc_ts", t.column(i).cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(t, path)


def boxes_hit_count(lon: np.ndarray, lat: np.ndarray) -> int:
    """Brute-force number of (point, fixture polygon) containments.
    The fixture polygons are axis-aligned boxes; half-open bounds as in
    the engine's DuckDB oracle twin."""
    n = 0
    for r in fixtures.box_records():
        n += int(
            np.count_nonzero(
                (lon >= r["xmin"])
                & (lon < r["xmax"])
                & (lat >= r["ymin"])
                & (lat < r["ymax"])
            )
        )
    return n


def _fresh(path: Path) -> Path:
    shutil.rmtree(path, ignore_errors=True)
    return path


class Workload:
    """What the runner needs from a workload; defaults for batch jobs."""

    name: str
    unit: str  # what items_per_s counts
    warmups = 1  # discarded jobs before timing
    batches_per_job = 0  # micro-batches per job; 0 = one batch job
    traced_job = None  # (tracer) -> (items, result), when layers are traced

    def warmup_jobs(self) -> list:
        """The discarded jobs run before timing, in order."""
        return [self.job] * self.warmups

    def batches(self, out) -> list[dict]:
        return []

    def close(self) -> None:
        pass


# --------------------------------------------------------------------------
# tiles
# --------------------------------------------------------------------------


class Tiles(Workload):
    name = "tiles"
    unit = "pages"

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.work = work
        self.start = page_start(seed, TILES_PAGES)
        self.idx = np.arange(self.start, self.start + TILES_PAGES, dtype=np.int64)
        self.chunks = np.array_split(self.idx, TILES_FILES)
        self.pages_dir = work / "pages"
        self.n_jobs = 0

    def stage(self) -> None:
        d = _fresh(self.pages_dir)
        d.mkdir(parents=True)
        for k, chunk in enumerate(self.chunks):
            write_pages(chunk, d / f"part-{k:03d}.parquet")

    def warmup_jobs(self) -> list:
        """Two jobs over the first staged file, then one over all pages.
        The small jobs pay the cold start (class loading, Python worker
        start, first compilations) in less time than full ones, and the
        full job time settles sooner after them. One paired session on
        4 vCPUs: small jobs 9.96, 2.27 s, then full jobs 3.38, 2.40,
        2.06, 2.06 s; against full jobs from the start 12.58, 3.65,
        3.02, 2.49, 2.63, 2.00 s."""
        return [self.small_job, self.small_job, self.job]

    def _out(self) -> Path:
        self.n_jobs += 1
        return _fresh(self.work / f"out-{self.n_jobs}")

    def _run(self, path: Path, n_pages: int) -> tuple[int, object]:
        from osmquadtreepostgis_spark.plans.pipeline import run_pages_checkpointed

        out = self._out()
        pages = self.spark.read.parquet(str(path))
        stats = run_pages_checkpointed(pages, str(out))
        return n_pages, (out, stats, n_pages)

    def job(self) -> tuple[int, object]:
        return self._run(self.pages_dir, TILES_PAGES)

    def small_job(self) -> tuple[int, object]:
        return self._run(self.pages_dir / "part-000.parquet", len(self.chunks[0]))

    def traced_job(self, tracer) -> tuple[int, object]:
        """``run_pages_checkpointed`` decomposed into the public calls
        ``pages_pipeline`` makes, each materialized at its boundary."""
        from osmquadtreepostgis_spark.functions.cells import cell_encode_col
        from osmquadtreepostgis_spark.operators.mine import mine_coordinate_mentions
        from osmquadtreepostgis_spark.operators.pip import (
            PolygonIndex,
            pip_probe_arrow,
        )
        from osmquadtreepostgis_spark.plans.checkpoint import CheckpointedWriter
        from osmquadtreepostgis_spark.plans.pipeline import TILE_DEPTH

        out = self._out()
        with tracer.span("plans.pipeline"):
            with tracer.span("sources.read") as sp:
                pages = self.spark.read.parquet(str(self.pages_dir))
                pages = pages.localCheckpoint(eager=True)
                sp.rows_out = pages.count()
            with tracer.span("operators.mine") as sp:
                mentions = mine_coordinate_mentions(pages).localCheckpoint(eager=True)
                sp.rows_out = mentions.count()
            with tracer.span("operators.pip") as sp:
                index = PolygonIndex.from_polygons_df(
                    fixtures.polygons_df(self.spark), depth=6
                )
                probe_in = mentions.select(
                    F.xxhash64("url").alias("url_h"),
                    F.xxhash64("entity").alias("entity_h"),
                    "lon",
                    "lat",
                )
                hits = pip_probe_arrow(probe_in, index).localCheckpoint(eager=True)
                sp.rows_out = hits.count()
            with tracer.span("plans.pipeline.aggregate") as sp:
                tiles = (
                    hits.withColumn("tile", cell_encode_col("lon", "lat", TILE_DEPTH))
                    .groupBy("tile", "poly_id")
                    .agg(
                        F.count(F.lit(1)).alias("n_mentions"),
                        F.approx_count_distinct("url_h").alias("n_pages_approx"),
                        F.approx_count_distinct("entity_h").alias(
                            "n_entities_approx"
                        ),
                    )
                    .localCheckpoint(eager=True)
                )
                sp.rows_out = tiles.count()
            with tracer.span("plans.checkpoint") as sp:
                stats = CheckpointedWriter(str(out), n_buckets=64, bucket_key="tile").write(
                    tiles
                )
                sp.rows_out = stats["rows"]
        return TILES_PAGES, (out, stats, TILES_PAGES)

    def read_output(self, result) -> dict:
        out, stats, n_pages = result
        data = (
            self.spark.read.parquet(str(out / "data"))
            .drop("__bucket")
            .toPandas()
            .sort_values(["tile", "poly_id"], ignore_index=True)
        )
        lineage = self.spark.read.parquet(str(out / "_lineage")).toPandas()
        shutil.rmtree(out, ignore_errors=True)
        return {
            "stats": stats,
            "data": data,
            "lineage_rows": int(lineage["rows"].sum()),
            "n_pages": n_pages,
        }

    def reference(self) -> dict:
        """Brute-force mention count per input: the first file alone
        (small warm-up jobs) and all pages."""
        counts = {}
        for idx in (self.chunks[0], self.idx):
            m = expected_mentions_pdf(idx)
            counts[len(idx)] = boxes_hit_count(m["lon"].to_numpy(), m["lat"].to_numpy())
        return {"n_mentions": counts}

    def check(self, check, out: dict, ref: dict, tag: str) -> None:
        data = out["data"]
        total = int(data["n_mentions"].sum())
        want = ref["n_mentions"][out["n_pages"]]
        check(
            f"{tag}.n_mentions",
            total == want,
            f"sum n_mentions {total} vs brute force {want} over {out['n_pages']} pages",
        )
        check(
            f"{tag}.lineage",
            out["lineage_rows"] == len(data) == out["stats"]["rows"] > 0,
            f"lineage {out['lineage_rows']} written {len(data)} "
            f"reported {out['stats']['rows']}",
        )

    def same_output(self, a: dict, b: dict) -> bool:
        return a["data"].equals(b["data"])


# --------------------------------------------------------------------------
# curate
# --------------------------------------------------------------------------


class Curate(Workload):
    name = "curate"
    unit = "docs"

    def __init__(self, spark, seed: int, work: Path):
        self.spark = spark
        self.work = work
        h = splitmix64(seed)
        self.mul = 1 + (h & 0x3FFFFFFF)
        self.add = (h >> 32) & 0x3FFFFFFF
        self.docs_dir = work / "docs"

    def map_ids(self, idx):
        """Seeded order-preserving bijection of generator indices onto
        doc ids: ``idx*5 + jitter`` with ``jitter in [0, 5)``. Order is
        kept because survivors are chosen by minimum id: a planted
        duplicate always maps above its base parent, as in the
        unmapped corpus."""
        return idx * CURATE_ID_STRIDE + (idx * self.mul + self.add) % CURATE_ID_STRIDE

    def stage(self) -> None:
        """The planted-duplicate corpus from the engine's DuckDB twin of
        ``synth_documents`` (byte-identical text, no Spark job), ids
        mapped by the seed."""
        import duckdb

        from osmquadtreepostgis_spark.sources.corpus_synth import sql_synth_documents

        con = duckdb.connect()
        try:
            docs = con.execute(
                f"SELECT doc_id, text FROM ({sql_synth_documents(CURATE_DOCS)})"
            ).fetch_df()
        finally:
            con.close()
        docs["doc_id"] = self.map_ids(docs["doc_id"].to_numpy(dtype=np.int64))
        d = _fresh(self.docs_dir)
        d.mkdir(parents=True)
        pq.write_table(pa.Table.from_pandas(docs, preserve_index=False), d / "docs.parquet")

    def _split(self):
        docs = self.spark.read.parquet(str(self.docs_dir))
        return (
            docs.filter(F.col("doc_id") >= SEEN_BELOW),
            docs.filter(F.col("doc_id") < SEEN_BELOW),
        )

    def job(self) -> tuple[int, object]:
        from osmquadtreepostgis_spark.plans.curation import curate_corpus

        docs, seen = self._split()
        audit = curate_corpus(docs, seen=seen).toPandas()
        return len(audit), audit

    def traced_job(self, tracer) -> tuple[int, object]:
        """``curate_corpus`` (exact pair mode, local barriers, default
        thresholds) as the public calls it composes, each materialized
        at its boundary; the root span's self time is the composition's
        own barriers and joins."""
        from osmquadtreepostgis_spark.functions.repetition import (
            dup_ngram_frac,
            top_ngram_frac,
        )
        from osmquadtreepostgis_spark.operators.cluster import resolve_duplicates
        from osmquadtreepostgis_spark.operators.corpus import quality_filter
        from osmquadtreepostgis_spark.operators.dedup import (
            dedup_against,
            ngram_jaccard_pairs,
        )

        keep_all = F.col("keep_quality") & F.col("keep_repetition")
        with tracer.span("plans.curation"):
            docs, seen = self._split()
            with tracer.span("operators.corpus.rules") as sp:
                audited = (
                    quality_filter(docs, min_words=20)
                    .select(
                        "doc_id",
                        "text",
                        F.col("keep").alias("keep_quality"),
                        (
                            (top_ngram_frac("text", 2) <= 0.13)
                            & (dup_ngram_frac("text", 2) <= 0.065)
                        ).alias("keep_repetition"),
                    )
                    .localCheckpoint(eager=True)
                )
                sp.rows_out = audited.count()
            with tracer.span("operators.dedup.against") as sp:
                inc = (
                    dedup_against(audited.filter(keep_all), seen, threshold=0.5, n=3)
                    .select("doc_id", F.col("keep").alias("__not_seen"))
                    .localCheckpoint(eager=True)
                )
                sp.rows_out = inc.count()
            audited = (
                audited.join(inc, "doc_id", "left")
                .withColumn("keep_not_seen", F.coalesce("__not_seen", F.lit(False)))
                .drop("__not_seen")
                .localCheckpoint(eager=True)
            )
            survivors = audited.filter(keep_all & F.col("keep_not_seen")).select(
                "doc_id", "text"
            )
            with tracer.span("operators.dedup.pairs") as sp:
                pairs = ngram_jaccard_pairs(survivors, threshold=0.5, n=3).localCheckpoint(
                    eager=True
                )
                sp.rows_out = pairs.count()
            with tracer.span("operators.cluster") as sp:
                resolved = (
                    resolve_duplicates(survivors.select("doc_id"), pairs)
                    .select("doc_id", F.col("keep").alias("__canonical"))
                    .localCheckpoint(eager=True)
                )
                sp.rows_out = resolved.count()
            out = audited.join(resolved, "doc_id", "left").withColumn(
                "keep_canonical", F.coalesce("__canonical", F.lit(False))
            )
            audit = out.select(
                "doc_id",
                "keep_quality",
                "keep_repetition",
                "keep_not_seen",
                "keep_canonical",
                (keep_all & F.col("keep_not_seen") & F.col("keep_canonical")).alias(
                    "keep"
                ),
            ).toPandas()
        return len(audit), audit

    def read_output(self, audit) -> pd.DataFrame:
        return audit.sort_values("doc_id", ignore_index=True)

    def reference(self) -> dict:
        """An answer computed without Spark, in plain Python over the
        staged corpus: the C4 quality rules, the Gopher 2-gram
        repetition rules, exact 3-shingle Jaccard against the seen
        slice and among survivors, and min-id connected components.
        (The entry's DuckDB oracle twin of curate_corpus does not finish
        at this size: its list-filter repetition twins and recursive
        component walk grow quadratically.)"""
        import re

        from osmquadtreepostgis_spark.sources.corpus_synth import synth_dup_truth

        documents = pq.read_table(str(self.docs_dir), columns=["doc_id", "text"]).to_pandas()
        symbol = re.compile(r"[A-Za-z0-9 ]")
        rows = []
        for doc_id, text in sorted(zip(documents["doc_id"].tolist(), documents["text"])):
            toks = text.split(" ")
            chars = len(text.replace(" ", ""))
            mean_wl = chars / max(len(toks), 1)
            keep_quality = (
                len(toks) >= 20
                and 2.0 <= mean_wl <= 12.0
                and len(symbol.sub("", text)) / max(chars, 1) <= 0.3
            )
            grams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
            top = max(Counter(grams).values(), default=0)
            top_frac = min(1.0, top * 2 / len(toks)) if top else 0.0
            dup_frac = (len(grams) - len(set(grams))) / len(grams) if grams else 0.0
            shingles = frozenset(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
            rows.append((doc_id, keep_quality, top_frac <= 0.13 and dup_frac <= 0.065, shingles))
        sets = {r[0]: r[3] for r in rows}

        def jaccard_hit(a: frozenset, b: frozenset) -> bool:
            i = len(a & b)
            return i > 0 and i / (len(a) + len(b) - i) >= 0.5

        seen = [sets[r[0]] for r in rows if r[0] < SEEN_BELOW]
        audit = {}
        for doc_id, kq, kr, _ in rows:
            if doc_id < SEEN_BELOW:
                continue
            ok = bool(kq and kr)
            audit[doc_id] = [bool(kq), bool(kr), ok and not any(
                jaccard_hit(sets[doc_id], s) for s in seen
            )]
        survivors = [d for d, v in audit.items() if v[2]]
        # candidate pairs share at least one shingle
        posting: dict[str, list[int]] = {}
        for d in survivors:
            for sh in sets[d]:
                posting.setdefault(sh, []).append(d)
        parent = {d: d for d in survivors}

        def find(x: int) -> int:
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        tried = set()
        for docs in posting.values():
            for i, a in enumerate(docs):
                for b in docs[i + 1 :]:
                    if (a, b) in tried:
                        continue
                    tried.add((a, b))
                    if jaccard_hit(sets[a], sets[b]):
                        ra, rb = find(a), find(b)
                        parent[max(ra, rb)] = min(ra, rb)
        for d, v in audit.items():
            canonical = v[2] and find(d) == d
            v.extend([canonical, v[2] and canonical])
        oracle = pd.DataFrame(
            [[d, *v] for d, v in sorted(audit.items())],
            columns=[
                "doc_id",
                "keep_quality",
                "keep_repetition",
                "keep_not_seen",
                "keep_canonical",
                "keep",
            ],
        )
        truth = synth_dup_truth(CURATE_DOCS)
        light = self.map_ids(truth.loc[truth["light"], "dup_id"].to_numpy())
        return {"n_docs": len(oracle), "oracle": oracle, "light_dups": light}

    def check(self, check, audit: pd.DataFrame, ref: dict, tag: str) -> None:
        check(
            f"{tag}.one_row_per_doc",
            len(audit) == ref["n_docs"] == audit["doc_id"].nunique(),
            f"{len(audit)} rows, {audit['doc_id'].nunique()} ids, {ref['n_docs']} docs",
        )
        light = audit[audit["doc_id"].isin(ref["light_dups"])]
        check(
            f"{tag}.light_dups_dropped",
            len(light) == len(ref["light_dups"]) and not light["keep_canonical"].any(),
            f"{int(light['keep_canonical'].sum())} of {len(ref['light_dups'])} "
            "planted light duplicates kept canonical",
        )
        o = ref["oracle"]
        cols = list(audit.columns)
        same = len(o) == len(audit) and all(
            (audit[c].astype("int64").to_numpy() == o[c].astype("int64").to_numpy()).all()
            for c in cols
        )
        check(f"{tag}.reference", same, f"{len(audit)} rows vs oracle {len(o)}")

    def same_output(self, a: pd.DataFrame, b: pd.DataFrame) -> bool:
        return a.equals(b)


# --------------------------------------------------------------------------
# tiles_stream
# --------------------------------------------------------------------------


class TilesStream(Workload):
    name = "tiles_stream"
    unit = "pages"
    batches_per_job = STREAM_FILES  # one file per micro-batch

    def __init__(self, spark, seed: int, work: Path):
        from probes import make_batch_listener

        self.spark = spark
        self.work = work
        n = STREAM_FILE_PAGES * STREAM_FILES
        self.start = page_start(seed, n)
        self.idx = np.arange(self.start, self.start + n, dtype=np.int64)
        self.backlog = work / "backlog"
        self.listener = make_batch_listener()
        spark.streams.addListener(self.listener)
        self.n_jobs = 0

    def close(self) -> None:
        self.spark.streams.removeListener(self.listener)

    def stage(self) -> None:
        d = _fresh(self.backlog)
        d.mkdir(parents=True)
        for k, chunk in enumerate(np.array_split(self.idx, STREAM_FILES)):
            write_pages(chunk, d / f"part-{k:05d}.parquet")

    def job(self) -> tuple[int, object]:
        from osmquadtreepostgis_spark.streaming.stream import stream_pages_flagship

        self.n_jobs += 1
        out = _fresh(self.work / f"stream-{self.n_jobs}")
        n0 = self.listener.count()
        rollup = stream_pages_flagship(self.spark, str(self.backlog), str(out)).toPandas()
        return len(self.idx), (out, n0, rollup)

    def batches_since(self, n0: int, expect: int, timeout_s: float = 10.0) -> list:
        """Progress events arrive asynchronously after the query stops."""
        deadline = time.monotonic() + timeout_s
        while self.listener.count() - n0 < expect and time.monotonic() < deadline:
            time.sleep(0.05)
        return self.listener.since(n0)

    def read_output(self, result) -> dict:
        out, n0, rollup = result
        shutil.rmtree(out, ignore_errors=True)
        return {
            "rollup": rollup.sort_values(["tile", "poly_id"], ignore_index=True),
            "batches": self.batches_since(n0, STREAM_FILES),
        }

    def reference(self) -> dict:
        """The same pages computed in batch by pages_pipeline (the other
        PIP copy), plus the brute-force containment count."""
        from osmquadtreepostgis_spark.plans.pipeline import pages_pipeline

        batch = (
            pages_pipeline(self.spark.read.parquet(str(self.backlog)))
            .select("tile", "poly_id", F.col("n_mentions").cast("long"))
            .toPandas()
            .sort_values(["tile", "poly_id"], ignore_index=True)
        )
        m = expected_mentions_pdf(self.idx)
        return {
            "batch": batch,
            "n_mentions": boxes_hit_count(m["lon"].to_numpy(), m["lat"].to_numpy()),
        }

    def check(self, check, out: dict, ref: dict, tag: str) -> None:
        r = out["rollup"][["tile", "poly_id", "n_mentions"]].astype("int64")
        b = ref["batch"].astype("int64")
        check(
            f"{tag}.rollup_equals_batch",
            r.equals(b),
            f"{len(r)} stream rows vs {len(b)} batch rows",
        )
        total = int(r["n_mentions"].sum())
        check(
            f"{tag}.n_mentions",
            total == ref["n_mentions"],
            f"sum n_mentions {total} vs brute force {ref['n_mentions']}",
        )

    def batches(self, out: dict) -> list[dict]:
        """Listener records of the drain's micro-batches."""
        return out["batches"] if out is not None else []


WORKLOADS = {w.name: w for w in (Tiles, Curate, TilesStream)}
