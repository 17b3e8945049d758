"""Shared test fixtures: one SparkSession per test run + DuckDB oracle."""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_hn_etl_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield spark


def _distributed(*_):
    """A size rule that sends every graph down the distributed loops;
    the session's settings, broadcast joins included, stay as they
    are."""
    return False


@pytest.fixture
def graph_paths(spark, monkeypatch):
    """The two paths of the graph operators, for a test to loop over:
    ``for path in graph_paths():`` runs its body once under the size
    rule (the test's small graphs finish in memory) and once with
    every graph on the distributed loops. Each loop starts from the
    size rule, also when a property test reuses the fixture."""
    from reddit_hn_etl_spark.operators import graph

    rule = graph._in_memory

    def paths():
        monkeypatch.setattr(graph, "_in_memory", rule)
        yield "in_memory"
        monkeypatch.setattr(graph, "_in_memory", _distributed)
        yield "distributed"

    return paths


@pytest.fixture
def distributed_graphs(spark, monkeypatch):
    """The session with every graph operator on its distributed loops."""
    from reddit_hn_etl_spark.operators import graph

    monkeypatch.setattr(graph, "_in_memory", _distributed)
    return spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _jobs(spark, group, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    number of Spark jobs it submitted."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
