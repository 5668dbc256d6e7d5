import os

import pytest

from nicefox_graphdb_spark import CypherEngine, get_spark
from nicefox_graphdb_spark.sources import load_tpch_graph

SF_DIR = os.environ.get("NICEFOX_TEST_SF_DIR", "/root/testdata/sf0.001")


def _group_jobs(spark, fn) -> list[int]:
    """Ids of the Spark jobs scheduled while ``fn()`` runs, counted by a
    job group of their own."""
    import uuid

    tag = f"jobs-during-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(tag))


def jobs_during(spark, fn) -> int:
    """Spark jobs scheduled while ``fn()`` runs."""
    return len(_group_jobs(spark, fn))


def stages_during(spark, fn) -> int:
    """Stages run (skipped ones not counted) by the Spark jobs scheduled
    while ``fn()`` runs. Under AQE a job can hold several stages, or
    re-read a shuffle another job wrote, so the job count alone does not
    tell how much was scheduled."""
    jobs = _group_jobs(spark, fn)
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = spark.sparkContext.statusTracker()
    # a skipped stage ran no task; the status store may also have dropped
    # it already (it evicts skipped stages first), so a missing one counts
    # as skipped too
    infos = [
        tracker.getStageInfo(s) for j in jobs for s in tracker.getJobInfo(j).stageIds
    ]
    return sum(1 for i in infos if i is not None and i.numCompletedTasks > 0)


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
