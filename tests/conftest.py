import os

import pytest

from nicefox_graphdb_spark import CypherEngine, get_spark
from nicefox_graphdb_spark.sources import load_tpch_graph

SF_DIR = os.environ.get("NICEFOX_TEST_SF_DIR", "/root/testdata/sf0.001")


def jobs_during(spark, fn) -> int:
    """Spark jobs scheduled while ``fn()`` runs, counted by a job group
    of their own."""
    import uuid

    tag = f"jobs-during-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


@pytest.fixture(scope="session")
def spark():
    return get_spark(shuffle_partitions=8)


@pytest.fixture(scope="session")
def catalog(spark):
    return load_tpch_graph(spark, SF_DIR)


@pytest.fixture(scope="session")
def engine(spark, catalog):
    return CypherEngine(spark, catalog)


@pytest.fixture()
def g(spark):
    """A fresh, empty in-memory mutable graph."""
    from nicefox_graphdb_spark.catalog import GraphCatalog

    return CypherEngine(spark, GraphCatalog(spark), mutable=True)


@pytest.fixture(scope="session")
def tables(spark):
    from nicefox_graphdb_spark.sources import read_tables

    return read_tables(spark, SF_DIR)
