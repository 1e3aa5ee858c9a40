import os

import pytest

os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("hive-jq-udtf-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    yield s
    s.stop()


SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


_PY_NODE_NAMES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "PythonUDTF",
    "FlatMapGroupsInPandas",
)


def _children(node):
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    kids = node.children()
    return [kids.apply(i) for i in range(kids.size())]


def _route_filter(node):
    """The first Filter below ``node``; it must select the rows a
    native plan routes to the Python tier (`native._python_rows`)."""
    while node.nodeName() != "Filter":
        kids = _children(node)
        assert len(kids) == 1, f"no route Filter below {node.nodeName()}"
        node = kids[0]
    cond = node.condition().toString()
    assert cond.startswith("CASE WHEN isnull(__jq_docbind"), cond
    return node


def collect_routed(df):
    """Collect ``df`` and return ``(rows, sent)``, where ``sent`` is
    how many rows its Python nodes received, asserting that every
    Python node reads a Filter on the native tier's route flag
    (duplicate keys, a value a type guard rejects, number text, and
    corrupt or NULL cells where jq fails on null) — a native jq plan's
    only Python node.  Must be the first action on ``df``: plan metrics
    add up across actions."""
    rows = df.collect()
    sent, stack = 0, [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() in _PY_NODE_NAMES:
            f = _route_filter(_children(node)[0])
            sent += f.metrics().apply("numOutputRows").value()
            continue
        stack.extend(_children(node))
    return rows, sent


def native_rows(spark, plan, texts):
    """Run native ``plan`` over the JSON cells ``texts`` in one Spark
    job, with a stand-in for the Python tier that only tags the rows it
    receives.  Returns, per cell, None when the cell was routed to the
    Python tier, else the list of output row tuples the native tier
    gave for it (in order)."""
    from pyspark.sql import functions as F

    # a local relation (one small task per branch), built by one call
    values = ", ".join(f"({i}, :j{i}, false)" for i in range(len(texts)))
    df = spark.sql(
        f"SELECT i, CAST(j AS STRING) AS j, routed FROM VALUES {values} AS t(i, j, routed)",
        args={f"j{i}": t for i, t in enumerate(texts)},
    )
    fields = plan.schema.fields

    def tag(rows):
        return rows.select(
            "i", "j", F.lit(True).alias("routed"),
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in fields],
        )

    names = [f.name for f in fields]
    out: list = [[] for _ in texts]
    for r in plan.apply(df, "j", tag).select("i", "routed", *names).collect():
        if r[1]:
            out[r[0]] = None
        elif out[r[0]] is not None:
            out[r[0]].append(tuple(r[2:]))
    return out
