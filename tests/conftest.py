from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sonar_spark.session import get_spark  # noqa: E402

TESTDATA = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("sonar-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TESTDATA


@pytest.fixture
def no_broadcast(spark):
    """autoBroadcastJoinThreshold = -1 for one test, restored after:
    forces the as-of union plan (and every other shuffle join)."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    yield
    spark.conf.set(key, old)


@pytest.fixture(scope="session")
def probe_side():
    """df -> the physical node names on the streamed (probe) side of the
    first BroadcastHashJoin in df's plan, or None when it has none: the
    path the left rows take to an as-of broadcast join."""

    def children(n):
        cs = n.children()
        return [cs.apply(i) for i in range(cs.size())]

    def find(n):
        if n.nodeName() == "AdaptiveSparkPlan":
            return find(n.executedPlan())
        if n.nodeName() == "BroadcastHashJoin":
            return n
        for c in children(n):
            hit = find(c)
            if hit is not None:
                return hit
        return None

    def names(n):
        return [n.nodeName(), *(m for c in children(n) for m in names(c))]

    def run(df):
        bhj = find(df._jdf.queryExecution().executedPlan())
        return None if bhj is None else names(bhj.streamedPlan())

    return run
