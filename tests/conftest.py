"""Shared fixtures: one session-scoped SparkSession (the reference's analog
is the mp->thread shim that makes the whole pipeline run in-process for
tests, /root/reference/tests/conftest.py:20-57 — ours is just local mode),
plus a small deterministic fixture dataset shared across tests."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metadata_crawler_spark.session import get_spark  # noqa: E402
from metadata_crawler_spark.sources.fixtures import write_fixtures  # noqa: E402

N_TEST_PAGES = 1200


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mcs-tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("fixtures")
    write_fixtures(str(d), N_TEST_PAGES)
    return str(d)


@pytest.fixture(scope="session")
def tables(spark, fixture_dir):
    return {
        name: spark.read.parquet(os.path.join(fixture_dir, f"{name}.parquet"))
        for name in ("pages", "seeds", "robots", "hosts")
    }


@pytest.fixture(scope="session")
def probe_nodes(spark):
    """Count the seen-filter probe nodes a frame's executed plan runs.

    Walks the physical plan and the plans of the caches it scans,
    visiting each JVM node once: two scans of one cache share its plan,
    so a probe below a cache counts once however often it is read."""
    jvm = spark._jvm
    conv = jvm.scala.jdk.javaapi.CollectionConverters
    python_nodes = ("ArrowEvalPython", "FlatMapCoGroupsInPandas")

    def count(df) -> int:
        visited, stack, n = set(), [df._jdf.queryExecution().executedPlan()], 0
        while stack:
            node = stack.pop()
            key = jvm.System.identityHashCode(node)
            if key in visited:
                continue
            visited.add(key)
            name = node.nodeName()
            if name in python_nodes and "probe(" in node.simpleString(100):
                n += 1
            if name == "AdaptiveSparkPlan":
                stack.append(node.executedPlan())
            elif name.endswith("QueryStage"):
                stack.append(node.plan())
            stack += list(conv.asJava(node.children()))
            stack += list(conv.asJava(node.innerChildren()))
        return n

    return count
