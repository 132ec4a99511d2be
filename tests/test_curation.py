"""End-to-end curation composition (plans/curation.py)."""

import pytest
from pyspark.sql import functions as F

from osmquadtreepostgis_spark.plans.curation import curate_corpus

pytestmark = pytest.mark.usefixtures("spark")


@pytest.fixture(scope="module")
def audit(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    return curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
    ).toPandas()


def test_one_row_per_doc_and_conjunction(audit):
    assert len(audit) == 400
    assert audit.doc_id.is_unique
    want = (
        audit.keep_quality
        & audit.keep_repetition
        & audit.keep_not_seen
        & audit.keep_canonical
    )
    assert (audit.keep == want).all()


def test_stage_monotonicity(audit):
    """A doc failing an earlier stage never passes a later one (later
    verdicts are false for docs the stage never saw)."""
    early_fail = ~(audit.keep_quality & audit.keep_repetition)
    assert not audit.loc[early_fail, "keep_not_seen"].any()
    assert not audit.loc[~audit.keep_not_seen, "keep_canonical"].any()


def test_every_stage_non_vacuous(audit):
    assert (~audit.keep_quality).sum() > 0
    assert (~audit.keep_repetition).sum() > 0
    surv1 = audit.keep_quality & audit.keep_repetition
    assert (surv1 & ~audit.keep_not_seen).sum() > 0
    assert (audit.keep_not_seen & ~audit.keep_canonical).sum() > 0
    assert audit.keep.sum() > 0


def test_curated_corpus_exports_to_jsonl(spark, tmp_path):
    """The produce-training-data path end-to-end: curate -> keep ->
    sharded gzip JSONL -> read back."""
    import glob

    from osmquadtreepostgis_spark.sources.sinks import write_jsonl_gz

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    audit = curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
    )
    kept = audit.filter("keep").join(docs, "doc_id").select("doc_id", "text")
    out = str(tmp_path / "train")
    write_jsonl_gz(kept, out, num_shards=2)
    assert len(glob.glob(f"{out}/part-*.json.gz")) == 2
    back = spark.read.json(out)
    assert back.count() == kept.count() > 0


def test_minhash_verified_mode_matches_exact_on_fixture(spark, audit):
    """pair_mode='minhash_verified' (band-shuffle candidates + exact
    Jaccard verification) equals the exact mode on the fixture — LSH
    recalls every >=0.5 pair here, and verification makes precision
    exact by construction."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mh = curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
        pair_mode="minhash_verified",
    ).toPandas()
    a = audit.sort_values("doc_id", ignore_index=True)
    b = mh.sort_values("doc_id", ignore_index=True)
    assert a.equals(b)


def test_unknown_pair_mode_raises(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    with pytest.raises(ValueError, match="pair_mode"):
        curate_corpus(docs, pair_mode="nope").collect()


def test_minhash_verified_pairs_subset_of_exact(spark):
    """minhash_verified_pairs returns a SUBSET of ngram_jaccard_pairs
    with identical jaccard values on the shared pairs (verification
    gives exact precision; only recall is probabilistic)."""
    from osmquadtreepostgis_spark.operators.dedup import (
        minhash_verified_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    mh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_verified_pairs(docs, threshold=0.5).collect()
    }
    assert mh  # non-vacuous
    for k, v in mh.items():
        assert k in exact and exact[k] == v, k


def test_minhash_geometry_sizes_from_threshold():
    """The derived geometry keeps miss probability at the configured
    threshold below target (ADVICE r4: a fixed 16/4 geometry misses a
    t=0.5 pair with p~0.77)."""
    from osmquadtreepostgis_spark.operators.dedup import minhash_geometry

    for t in (0.3, 0.5, 0.8, 0.9):
        n_hashes, bands = minhash_geometry(t)
        r = n_hashes // bands
        miss = (1.0 - t**r) ** bands
        assert miss < 1e-6, (t, n_hashes, bands, miss)
    # monotone: higher threshold needs fewer bands
    assert minhash_geometry(0.9)[1] < minhash_geometry(0.5)[1]
    with pytest.raises(ValueError):
        minhash_geometry(0.0)


def test_minhash_verified_default_geometry_recalls_borderline_pair(spark):
    """A true pair at EXACTLY the threshold Jaccard is recalled by the
    derived default geometry (the old fixed 16/4 default missed it
    77 % of the time at t=0.5)."""
    from osmquadtreepostgis_spark.operators.dedup import minhash_verified_pairs

    # 14 tokens each: a shared 10-token block then a 4-token distinct
    # tail -> 12 3-gram shingles per doc, 8 shared (those fully inside
    # the block), 4 unique per doc: J = 8/16 = 0.5 exactly.
    shared = [f"s{i}" for i in range(10)]
    a_text = " ".join(shared + ["ax", "ay", "az", "aw"])
    b_text = " ".join(shared + ["bx", "by", "bz", "bw"])
    docs = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    rows = minhash_verified_pairs(docs, threshold=0.5).collect()
    assert len(rows) == 1
    (r,) = rows
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert r["jaccard"] == 0.5, r["jaccard"]


def test_barrier_modes_produce_identical_audit(spark, audit, checkpoint_dir):
    """Local barriers (the module fixture, built before any checkpoint
    dir is set) and durable ones (checkpoint dir set) produce the
    identical audit frame (VERDICT r4 #3 — the barrier is a
    lineage/perf device, never a semantics one)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    durable = (
        curate_corpus(
            docs.filter(F.col("doc_id") >= 100),
            seen=docs.filter(F.col("doc_id") < 100),
        )
        .toPandas()
        .sort_values("doc_id", ignore_index=True)
    )
    assert durable.equals(audit.sort_values("doc_id", ignore_index=True))
