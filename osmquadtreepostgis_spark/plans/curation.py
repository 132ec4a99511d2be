"""End-to-end training-corpus curation: the composition showcase.

The training-data operator families this engine ships — C4 structural
quality rules (:func:`..operators.corpus.quality_filter`), Gopher
repetition signals (:mod:`..functions.repetition`), incremental
dedup against an existing corpus (:func:`..operators.dedup
.dedup_against`), exact near-dup pairs + transitive clustering
(:mod:`..operators.dedup`, :mod:`..operators.cluster`) — exist to be
composed into ONE curation pass.  :func:`curate_corpus` is that
composition, with the ordering a 100 TB run wants:

1. quality + repetition rules first — pure-Column, fused into the
   scan, no shuffle; they shrink the corpus BEFORE anything pays a
   shuffle;
2. incremental dedup against the seen corpus next (bipartite
   probe/index join — batch-sized, not corpus-sized, probe side);
3. exact-Jaccard self-dedup + connected-components survivor
   resolution LAST, over only the docs that survived everything else
   (the expensive pair machinery sees the minimum candidate set).

Output is an AUDIT frame, one row per input document, every stage's
verdict a separate boolean (the operators' shared idiom: curation
decisions must be explainable per document):

``(doc_id, keep_quality, keep_repetition, keep_not_seen,
keep_canonical, keep)``

``keep_canonical`` is true for docs that survived the earlier stages
AND are their duplicate-cluster's survivor (min id); docs filtered
earlier carry false.  ``keep`` is the conjunction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.repetition import dup_ngram_frac, top_ngram_frac
from ..operators.cluster import resolve_duplicates
from ..operators.corpus import quality_filter
from ..operators.dedup import (
    dedup_against,
    minhash_verified_pairs,
    ngram_jaccard_pairs,
)
from ..session import barrier

__all__ = ["curate_corpus"]


def curate_corpus(
    docs: DataFrame,
    seen: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 20,
    max_top_2gram_frac: float = 0.13,
    max_dup_2gram_frac: float = 0.065,
    jaccard_threshold: float = 0.5,
    shingle_n: int = 3,
    pair_mode: str = "exact",
    n_hashes: int | None = None,
    bands: int | None = None,
) -> DataFrame:
    """One-pass curation audit over ``docs`` (see module docstring).

    ``pair_mode`` selects the self-dedup candidate machinery:

    * ``"exact"`` (default) — prefix-filtered inverted-index
      :func:`..operators.dedup.ngram_jaccard_pairs`; exhaustive.
    * ``"minhash_verified"`` — the 100 TB shape:
      :func:`..operators.dedup.minhash_verified_pairs` generates
      candidates via the MinHash band shuffle and verifies them with
      exact Jaccard, so precision is exact and only recall is
      probabilistic (a true pair sharing no band is missed with
      probability (1-t^r)^b).  With ``n_hashes``/``bands`` left None
      the geometry is derived from ``jaccard_threshold`` via
      :func:`..operators.dedup.minhash_geometry` (miss < 1e-6 at the
      threshold) — a fixed small geometry silently loses borderline
      pairs (ADVICE r4).

    A :func:`..session.barrier` cuts lineage after the rule stage and
    after the incremental stage.  The dedup machinery downstream
    deliberately re-executes its input per join branch (collect_list
    defeats ReuseExchange — see set_jaccard_pairs); without a barrier
    that re-execution compounds through the composed stages and
    re-runs the per-doc repetition HOFs many times over (measured
    654 s -> ~25 s at sf0.1).  The barriers are durable when the
    context has a checkpoint dir set (HDFS/S3 on a cluster, so the run
    survives executor loss) and executor-local otherwise; the audit is
    the same either way.
    """
    q = quality_filter(docs, min_words=min_words, text_col=text_col)
    audited = q.select(
        id_col,
        text_col,
        F.col("keep").alias("keep_quality"),
        (
            (top_ngram_frac(text_col, 2) <= max_top_2gram_frac)
            & (dup_ngram_frac(text_col, 2) <= max_dup_2gram_frac)
        ).alias("keep_repetition"),
    )
    audited = barrier(audited)
    if seen is not None:
        inc = dedup_against(
            audited.filter(F.col("keep_quality") & F.col("keep_repetition")),
            seen,
            threshold=jaccard_threshold,
            n=shingle_n,
            id_col=id_col,
            text_col=text_col,
        ).select(id_col, F.col("keep").alias("__not_seen"))
        audited = audited.join(inc, id_col, "left").withColumn(
            "keep_not_seen",
            # docs dropped before the incremental stage carry false:
            # they were never probed, and the audit promises a verdict
            # only for docs the stage actually saw
            F.coalesce("__not_seen", F.lit(False)),
        ).drop("__not_seen")
    else:
        audited = audited.withColumn(
            "keep_not_seen",
            F.col("keep_quality") & F.col("keep_repetition"),
        )
    audited = barrier(audited)
    survivors = audited.filter(
        F.col("keep_quality") & F.col("keep_repetition") & F.col("keep_not_seen")
    ).select(id_col, text_col)
    if pair_mode == "exact":
        pairs = ngram_jaccard_pairs(
            survivors, threshold=jaccard_threshold, n=shingle_n,
            id_col=id_col, text_col=text_col,
        )
    elif pair_mode == "minhash_verified":
        pairs = minhash_verified_pairs(
            survivors, threshold=jaccard_threshold, n=shingle_n,
            n_hashes=n_hashes, bands=bands,
            id_col=id_col, text_col=text_col,
        )
    else:
        raise ValueError(f"unknown pair_mode {pair_mode!r}")
    resolved = resolve_duplicates(
        survivors.select(id_col), pairs, id_col=id_col
    ).select(id_col, F.col("keep").alias("__canonical"))
    out = audited.join(resolved, id_col, "left").withColumn(
        "keep_canonical", F.coalesce("__canonical", F.lit(False))
    )
    return out.select(
        id_col,
        "keep_quality",
        "keep_repetition",
        "keep_not_seen",
        "keep_canonical",
        (
            F.col("keep_quality")
            & F.col("keep_repetition")
            & F.col("keep_not_seen")
            & F.col("keep_canonical")
        ).alias("keep"),
    )
