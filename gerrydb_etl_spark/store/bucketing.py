"""Bucketed tables: co-located storage for shuffle-free joins.

The single biggest cost of fact-fact joins at 100 TB is the shuffle
of both sides on the join key. Bucketing pre-partitions the stored
table by hash(key) into a fixed bucket count, so a join between two
tables bucketed on the same key with the same count needs ZERO
exchanges — Catalyst plans a SortMergeJoin directly over matching
buckets (verified by plan assertion in tests/test_bucketing.py).

This is the storage-level answer to the brief's 'pre-partitioning /
bucketing for co-located joins'; the write costs one shuffle once,
amortized over every subsequent join.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 16,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist df as a bucketed (and bucket-sorted) managed table.
    Sorting within buckets lets SortMergeJoin skip its sort step."""
    writer = (
        df.write.mode("overwrite")
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def read_bucketed(spark: SparkSession, table_name: str) -> DataFrame:
    return spark.table(table_name)


def _source_fingerprint(
    sf_dir: str, tables: tuple[str, ...] = ("orders", "lineitem")
) -> str:
    """Short content fingerprint of the staged tables' source files:
    absolute path + every parquet part's (path, mtime_ns, size). If
    the sf_dir data is regenerated in place mid-session the
    fingerprint — and so the managed-table tag — changes, forcing a
    restage instead of silently reusing the stale staged copy."""
    h = hashlib.sha256(os.path.abspath(sf_dir).encode())
    for table in tables:
        p = os.path.join(sf_dir, f"{table}.parquet")
        parts = (
            sorted(
                os.path.join(p, f)
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
            if os.path.isdir(p)
            else [p]
        )
        for fp in parts:
            if os.path.exists(fp):
                st = os.stat(fp)
                h.update(f"{fp}:{st.st_mtime_ns}:{st.st_size}".encode())
    return h.hexdigest()[:8]


def bucketed_fact_names(sf_dir: str) -> tuple[str, str]:
    """Session-stable managed-table names for the staged bucketed
    copies of (orders, lineitem) at a given scale-factor directory.
    The name carries a short source fingerprint (path + file mtimes/
    sizes) so two sf_dirs never collide in one warehouse AND
    regenerated data at the same path never hits a stale staged
    copy."""
    # one fingerprint walk serves both names: stat-ing every part
    # file twice doubled the staging-probe I/O and a mid-call mtime
    # change could have tagged the pair inconsistently
    tag = _source_fingerprint(sf_dir)
    return (f"bq_orders_{tag}", f"bq_lineitem_{tag}")


def ensure_bucketed_facts(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage orders/lineitem as bucketed managed tables ONCE per
    session+sf_dir; subsequent calls are a catalog lookup.

    Bucketing's whole economics is write-once-join-many: the one
    key-shuffle is paid at staging time and every later join on the
    key is exchange-free. Staging therefore lives OUTSIDE any benched
    query body (bench.py warms it with the other session one-time
    costs; an in-query rewrite would conflate staging with the
    measured join).

    The in-memory catalog forgets managed tables between sessions but
    their warehouse directories survive; a catalog hit means THIS
    session staged them from sources with the same fingerprint
    (path + mtimes/sizes — regenerated data mints a new table tag),
    a miss means leftover dirs must be cleared before the idempotent
    rewrite. Superseded fingerprints' directories linger until the
    same tag is restaged; the warehouse is session-scoped scratch, so
    that is bounded by regenerations within one session.
    """
    from gerrydb_etl_spark.sources.registry import load_table

    o_name, li_name = bucketed_fact_names(sf_dir)
    if spark.catalog.tableExists(o_name) and spark.catalog.tableExists(
        li_name
    ):
        return o_name, li_name
    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in (o_name, li_name):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    write_bucketed(
        load_table(spark, sf_dir, "orders"),
        o_name,
        ["o_orderkey"],
        16,
        sort_cols=["o_orderkey"],
    )
    write_bucketed(
        load_table(spark, sf_dir, "lineitem"),
        li_name,
        ["l_orderkey"],
        16,
        sort_cols=["l_orderkey"],
    )
    return o_name, li_name


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (plan-shape
    assertion helper)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("Exchange hashpartitioning")
