"""The exact set-Jaccard pair builder (operators/dedup.py): its shingle
rank keeps the global (df, element) order without a collect, and its
verify stage runs on every core even when the input is one split."""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from test_fanout_rule import _new_jobs

from osmquadtreepostgis_spark.operators.dedup import _rank_frame, set_jaccard_pairs


@pytest.mark.parametrize("n", [0, 1, 7, 5_000, 200_000])
def test_rank_frame_keeps_df_order(spark, n):
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        dfcnt = spark.range(0, n, 1, 16).select(
            F.concat(F.lit("s"), (F.col("id") * 7919 % max(n, 1)).cast("string")).alias("__s"),
            (F.col("id") % 97 + 1).alias("__df"),
        )
        ranked = _rank_frame(dfcnt).collect()
    finally:
        spark.conf.set(key, old)
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    by_rank = [r["__s"] for r in sorted(ranked, key=lambda r: r["__rk"])]
    by_key = [r["__s"] for r in dfcnt.orderBy("__df", "__s").collect()]
    assert by_rank == by_key
    assert len({r["__rk"] for r in ranked}) == n


def _jaccard_pairs(rows, t):
    sets = [(i, set(sh)) for i, sh in rows]
    out = {}
    for i, a in sets:
        for j, b in sets:
            if i < j:
                jac = len(a & b) / len(a | b)
                if jac >= t:
                    out[(i, j)] = round(jac, 4)
    return out


def test_verify_stage_runs_on_every_core(spark, tmp_path):
    """A one-split input coalesces to a couple of rank-array partitions;
    the candidate join's probe side is fanned out, so the verify stage
    (the final stage of the collect) runs one task per core."""
    words = [f"w{i}" for i in range(40)]
    rows = [(i, [words[(i * 7 + k) % 40] for k in range(6 + i % 5)]) for i in range(300)]
    path = str(tmp_path / "sets.parquet")
    pq.write_table(
        pa.table({"id": [r[0] for r in rows], "__sh": [r[1] for r in rows]}), path
    )
    sets = spark.read.parquet(path)
    got, jobs = _new_jobs(
        spark, "pair-builder", lambda: set_jaccard_pairs(sets, 0.5).collect()
    )
    assert {(r["id_a"], r["id_b"]): r["jaccard"] for r in got} == _jaccard_pairs(rows, 0.5)
    assert len(jobs) == 9
    st = spark.sparkContext.statusTracker()
    verify = st.getStageInfo(max(st.getJobInfo(max(jobs)).stageIds))
    assert verify.numTasks == spark.sparkContext.defaultParallelism
