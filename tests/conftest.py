import pytest


@pytest.fixture(scope="session")
def spark():
    from osmquadtreepostgis_spark.session import get_spark

    s = get_spark("tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def checkpoint_dir(spark, tmp_path):
    """Set the context's checkpoint dir for one test, so every lineage
    barrier in it is a durable checkpoint, and unset it on teardown so
    later tests keep local barriers whatever the order."""
    sc = spark.sparkContext
    path = str(tmp_path / "ckpt")
    sc.setCheckpointDir(path)
    yield path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(sc._jvm.scala.Option.apply(None))
