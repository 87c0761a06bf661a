from __future__ import annotations

import threading

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


def session_jobs(spark, fn):
    """(result, number of Spark jobs the whole session ran during
    ``fn``, from any thread): a streaming query's micro-batch jobs on
    the stream's own thread count too. Tests run one at a time, so
    every job in the window is the call's. Job ids are dense, so the
    count is how far the newest job id in the status store moved,
    read each time once the listener bus has delivered every
    job-start event."""
    jsc = spark.sparkContext._jsc.sc()

    def newest():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return jobs.head().jobId() if jobs.nonEmpty() else -1

    before = newest()
    out = fn()
    return out, newest() - before


def py4j_calls(fn):
    """(result, number of py4j round trips ``fn`` made to the JVM):
    the driver-side cost of building a plan, which no Spark job
    shows. Only the calling thread's commands count: py4j releases
    the JVM references of dropped Python objects from its own thread,
    whenever earlier garbage happens to be finalised."""
    from py4j.clientserver import ClientServerConnection

    real = ClientServerConnection.send_command
    caller = threading.current_thread()
    calls = 0

    def counted(self, *args, **kwargs):
        nonlocal calls
        calls += threading.current_thread() is caller
        return real(self, *args, **kwargs)

    ClientServerConnection.send_command = counted
    try:
        out = fn()
    finally:
        ClientServerConnection.send_command = real
    return out, calls
