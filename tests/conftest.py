"""Shared fixtures: one SparkSession per test session, DuckDB with the
fixture tables registered as views, and the sf_dir roots."""

from __future__ import annotations

import os

import duckdb
import pytest

from etl_template_spark.session import get_spark

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# sf0.001 for fast unit iteration; the oracle-differential suite honors
# SPARK_GRAFT_TEST_SF_DIR (set to sf0.01 to mirror the driver's gate).
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session", autouse=True)
def _refresh_correctness_snapshot():
    """Stamp QUERY_CONTENT_HASHES.json for freshly recorded queries at
    the first test run of a round (builders run tests before editing;
    the refresh itself refuses to stamp modules already edited vs git
    HEAD, so a late run is safe too — see verification.refresh_snapshot)."""
    try:
        from etl_template_spark import verification

        verification.refresh_snapshot()
    except Exception:
        pass  # never block tests on snapshot bookkeeping


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="etl-tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def plan_nodes(spark):
    """Walker over every node of an executed physical plan, AQE query
    stages and the cached plans its InMemoryTableScans read included."""
    is_plan = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.execution.SparkPlan"
    ).isInstance

    def walk(plan):
        stack = [plan]
        while stack:
            node = stack.pop()
            yield node
            name = node.getClass().getSimpleName()
            if name == "AdaptiveSparkPlanExec":
                stack.append(node.executedPlan())
            elif name.endswith("QueryStageExec"):
                stack.append(node.plan())
            elif name == "InMemoryTableScanExec":
                stack.append(node.relation().cacheBuilder().cachedPlan())
            for seq in (node.children(), node.innerChildren()):
                for i in range(seq.size()):
                    if is_plan(seq.apply(i)):
                        stack.append(seq.apply(i))

    return walk


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def union_find_cc():
    """Driver-side union-find over (src, dst) pairs → {vertex: component
    minimum}: the from-scratch connected-components reference, kept
    independent of the distributed kernel under test."""

    def components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {v: find(v) for v in parent}

    return components
