"""Shared fixtures: one Spark session per test run, duckdb oracle con."""

from __future__ import annotations

import os
import sys
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pyrle_spark.session import get_spark

    spark = get_spark("pyrle_spark_tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def ducks():
    from pyrle_spark.operators.relational import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMALL}/{t}.parquet'")
    return con


def spark_jobs(spark, fn):
    """Run ``fn()`` under a job group of its own; return its result and
    the number of Spark jobs it launched."""
    sc = spark.sparkContext
    group = f"spark-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "spark_jobs")
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus: drain it before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def local_relation(df) -> bool:
    """Whether ``df``'s analyzed plan holds a driver ``LocalRelation``
    leaf (rows kept in the driver), not an RDD scan."""
    return "LocalRelation" in df._jdf.queryExecution().analyzed().toString()
