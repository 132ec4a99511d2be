"""Plan-discipline regressions over EVERY queries() entry: analysis
only (no execution), so the whole sweep is cheap.

Invariants the 100 TB posture depends on:
* no row-at-a-time Python UDFs anywhere (BatchEvalPython) — Python is
  allowed only through Arrow (ArrowEvalPython / MapInArrow /
  FlatMap*Pandas*);
* no unbroadcast cartesian product (CartesianProduct) — deliberate
  small-side cross joins must plan as BroadcastNestedLoopJoin;
* the flagship plans run exactly one Python stage, the PIP probe:
  every Python stage pays pyspark's per-task import-cache flush again
  on each worker's first task;
* the scan fan-out (session.fanout_small_scan) sits at the input of
  the operators whose per-row work is heavy, and nowhere else;
* lineage is cut only by session.barrier, so the checkpoint dir alone
  decides whether every cut is durable.
"""

import pathlib
import re

import pytest

import __spark_entry__ as entrymod

SF_DIR = "/root/testdata/sf0.001"

_QUERIES = sorted(entrymod.queries())

# streaming entries can't render a batch physical plan the same way
_SKIP = {"stream_events_window", "stream_stateful_sessionize"}


def _plan(spark, name):
    df = entrymod.queries()[name](spark, SF_DIR)
    if df.isStreaming:
        return None
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", [q for q in _QUERIES if q not in _SKIP])
def test_no_rowwise_python_and_no_cartesian(name, spark):
    plan = _plan(spark, name)
    if plan is None:
        pytest.skip("streaming plan")
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF"
    assert "CartesianProduct" not in plan, f"{name}: unbroadcast cross join"


@pytest.mark.parametrize("name", ["dedup_spans", "dedup_ngram_jaccard"])
def test_no_window_over_content_key(name, spark):
    """Content-key (gram/shingle) occurrence counts must be two-phase
    groupBy + join, never Window.partitionBy(content_key): a window
    partition cannot be AQE-split, so one stop-phrase key pins a single
    task at web scale (VERDICT r2 what's-wrong #1). The only Window
    allowed in these plans is the doc-id-keyed span/rank window."""
    plan = _plan(spark, name)
    import re

    # plan text: Window [fns], [partitionExprs], [orderExprs] — only
    # the PARTITION spec matters (ordering by __s inside a doc-id
    # partition is fine)
    for m in re.finditer(r"Window \[[^\]]*\], \[([^\]]*)\]", plan):
        part = m.group(1)
        assert "__s#" not in part and not re.search(r"\bg#\d", part), (
            f"{name}: Window partitioned by raw content key: {part[:200]}"
        )


def _nodes(plan):
    """Every node of a physical plan, AQE's initial plan included."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getName().endswith(".AdaptiveSparkPlanExec"):
            stack.append(node.executedPlan())
            continue
        yield node
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))


def _python_nodes(plan):
    """Class names of the Python-evaluation nodes of a physical plan."""
    names = (node.getClass().getName() for node in _nodes(plan))
    return [
        n.rsplit(".", 1)[1]
        for n in names
        if n.startswith("org.apache.spark.sql.execution.python.")
    ]


def test_flagship_plans_have_one_python_stage(spark):
    import numpy as np

    from osmquadtreepostgis_spark.plans.pipeline import pages_pipeline
    from osmquadtreepostgis_spark.sources.pages import PAGES_SCHEMA, synthesize_pdf

    pages = spark.createDataFrame(synthesize_pdf(np.arange(200)), PAGES_SCHEMA)
    plans = {
        "flagship_tiles": entrymod.queries()["flagship_tiles"](spark, SF_DIR),
        "pages_pipeline": pages_pipeline(pages),
    }
    for name, df in plans.items():
        nodes = _python_nodes(df._jdf.queryExecution().executedPlan())
        assert nodes == ["MapInArrowExec"], f"{name}: Python stages {nodes}"


def _round_robin_exchanges(df):
    """The round-robin exchanges of a frame's plan, one per exchange
    that runs: two that read the same columns of the same input are
    one exchange at run time (exchange reuse), while two branches that
    prune one input to different columns each shuffle it."""
    plan = df._jdf.queryExecution().executedPlan()
    out = []
    for node in _nodes(plan):
        if (
            node.getClass().getSimpleName() == "ShuffleExchangeExec"
            and node.outputPartitioning().getClass().getSimpleName()
            == "RoundRobinPartitioning"
            and not any(node.sameResult(o) for o in out)
        ):
            out.append(node)
    return out


@pytest.mark.parametrize(
    "name",
    [
        "collocations",
        "tfidf_keywords",
        "pip_shuffle_cover",
        "pip_points_in_boxes",
    ],
)
def test_light_operators_not_fanned_out(name, spark):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert not _round_robin_exchanges(df), f"{name}: fanned out"


@pytest.mark.parametrize(
    "name",
    [
        "mine_entities",
        "knn_exact",
        "dedup_spans",
        "knn_label_eval",
        "quality_filter",
        "diverse_sample",
        "corpus_stats",
    ],
)
def test_heavy_operators_fan_out_once(name, spark):
    df = entrymod.queries()[name](spark, SF_DIR)
    assert len(_round_robin_exchanges(df)) == 1, (name, [n.toString() for n in _round_robin_exchanges(df)])


def test_lineage_barriers_live_in_session():
    """Only session.barrier cuts lineage: a checkpoint call anywhere
    else in the package would decide durability on its own, ignoring
    the checkpoint dir."""
    pkg = pathlib.Path(entrymod.__file__).parent / "osmquadtreepostgis_spark"
    call = re.compile(r"\.(localCheckpoint|checkpoint)\(")
    offenders = [
        f"{path.relative_to(pkg)}:{n}"
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "session.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if call.search(line)
    ]
    assert not offenders, offenders
