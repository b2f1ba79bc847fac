from __future__ import annotations

import pytest

from hive_similarity_join_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"


def jobs_launched(spark, group: str, fn):
    """(fn(), number of Spark jobs it launched), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def plan_children(node):
    """Children of an executed (final AQE) plan node, walking into query
    stages, reused exchanges and nested adaptive plans."""
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return [node.executedPlan()]
    if name.endswith("QueryStage"):
        return [node.plan()]
    if name == "ReusedExchange":
        return [node.child()]
    return [node.children().apply(i) for i in range(node.children().size())]


def final_plan_nodes(node):
    """Every node of an executed (final AQE) plan (``plan_children``)."""
    yield node
    for c in plan_children(node):
        yield from final_plan_nodes(c)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
