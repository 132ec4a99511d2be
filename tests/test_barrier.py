"""Lineage barriers (session.barrier): the checkpoint dir alone decides
whether every cut in the engine is durable or executor-local."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.classic.dataframe import DataFrame

from osmquadtreepostgis_spark.operators.cluster import connected_components
from osmquadtreepostgis_spark.operators.dedup import ngram_jaccard_pairs
from osmquadtreepostgis_spark.operators.knn import kmeans_anchors
from osmquadtreepostgis_spark.plans.curation import curate_corpus
from test_plan_discipline import SF_DIR


def _refuse(self, *args, **kwargs):
    raise AssertionError("wrong kind of lineage barrier")


@pytest.mark.parametrize(
    "durable, forbidden",
    [(True, "localCheckpoint"), (False, "checkpoint")],
    ids=["dir_set", "no_dir"],
)
def test_every_cut_follows_the_checkpoint_dir(
    spark, request, monkeypatch, durable, forbidden
):
    """With a checkpoint dir set no operator takes a local checkpoint
    (which a lost executor cannot recover), and without one none takes
    a durable checkpoint."""
    if durable:
        request.getfixturevalue("checkpoint_dir")
    else:
        assert spark.sparkContext.getCheckpointDir() is None
    monkeypatch.setattr(DataFrame, forbidden, _refuse)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    audit = curate_corpus(
        docs.filter(F.col("doc_id") >= 100),
        seen=docs.filter(F.col("doc_id") < 100),
    )
    assert audit.count() == 400
    pairs = ngram_jaccard_pairs(docs, threshold=0.5)
    assert pairs.count() > 0
    assert connected_components(pairs).count() > 0
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    assert kmeans_anchors(emb, k=8, iters=2).count() == 8
