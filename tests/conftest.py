from __future__ import annotations

import uuid

import duckdb
import pytest

from gerrydb_etl_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"

TABLES = (
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
    spark = get_spark(app_name="gerrydb-etl-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_ORACLE}/{t}.parquet'"
        )
    yield con
    con.close()


def spark_jobs(spark, fn):
    """(result, number of Spark jobs ``fn`` ran), counted under a
    private job group once the listener bus has delivered every
    job-start event."""
    sc = spark.sparkContext
    group = f"test-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
