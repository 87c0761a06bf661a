"""fan_out gate behavior at production-shaped inputs (VERDICT r16
item 5): the gate claims to be a NO-OP when the scan already yields
at least cluster parallelism — that claim is load-bearing for "no
extra corpus shuffle at 100 TB" and was previously tested only
implicitly. These tests build multi-file fixtures and assert the
plan shape directly."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from gerrydb_etl_spark.operators.partitioning import (
    TEXT_CHUNK_BYTES,
    _input_bytes,
    fan_out,
)


@pytest.fixture(scope="module")
def multi_file_docs(spark):
    """A documents-shaped parquet directory with >= defaultParallelism
    files, so the scan yields >= parallelism partitions (each tiny
    file costs openCostInBytes, putting one file per partition)."""
    par = spark.sparkContext.defaultParallelism
    tmp = tempfile.mkdtemp(prefix="fanout_gate_")
    path = os.path.join(tmp, "documents.parquet")
    (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .repartition(par)
        .write.mode("overwrite")
        .parquet(path)
    )
    return path


def test_gate_noop_when_scan_at_parallelism(spark, multi_file_docs):
    """Scan partitions >= defaultParallelism -> fan_out returns the
    INPUT DataFrame object (identity, not just an equal plan) and the
    executed plan contains no round-robin exchange."""
    df = spark.read.parquet(multi_file_docs)
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() >= par
    out = fan_out(df)
    assert out is df
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "roundrobinpartitioning" not in plan
    # the chunked variant must short-circuit identically
    out2 = fan_out(df, chunk_bytes=TEXT_CHUNK_BYTES)
    assert out2 is df


def test_gate_noop_survives_narrow_projection(spark, multi_file_docs):
    """The production call shape is fan_out(df.select(...)): the
    projection must not reset the partition count the gate reads."""
    df = spark.read.parquet(multi_file_docs).select("doc_id", "text")
    out = fan_out(df, chunk_bytes=TEXT_CHUNK_BYTES)
    assert out is df


def test_gate_fans_single_file_to_parallelism(spark):
    """The small-scale path the gate exists for: a single-file scan
    fans to defaultParallelism, visible as one round-robin exchange."""
    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism
    out = fan_out(df)
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )
    plan = out._jdf.queryExecution().analyzed().toString().lower()
    assert "repartition" in plan


def test_chunk_bytes_caps_target_by_input_size(spark):
    """chunk_bytes caps the fan-out target at ceil(bytes / chunk):
    a sub-chunk single file must not explode into parallelism tasks."""
    path = "/root/testdata/sf0.001/documents.parquet"
    df = spark.read.parquet(path)
    size = _input_bytes(df)
    assert size is not None and size > 0
    out = fan_out(df, chunk_bytes=TEXT_CHUNK_BYTES)
    expect = min(
        spark.sparkContext.defaultParallelism,
        max(1, -(-size // TEXT_CHUNK_BYTES)),
    )
    got = out.rdd.getNumPartitions()
    assert got == max(expect, df.rdd.getNumPartitions())


def test_chunk_bytes_never_decreases_partitions(spark, multi_file_docs):
    """A tiny chunk target below the scan's natural split count must
    leave the frame untouched — fan_out never coalesces."""
    df = spark.read.parquet(multi_file_docs)
    n = df.rdd.getNumPartitions()
    out = fan_out(df, chunk_bytes=1 << 40)  # target -> 1
    assert out is df
    assert out.rdd.getNumPartitions() == n


def test_unknown_input_size_keeps_full_target(spark):
    """Non-file sources (no inputFiles) can't size-cap: the chunked
    call falls back to the plain parallelism target rather than
    guessing."""
    df = spark.range(0, 1000, 1, 2).select(
        F.col("id"), F.lit("x").alias("text")
    )
    assert _input_bytes(df) is None
    out = fan_out(df, chunk_bytes=TEXT_CHUNK_BYTES)
    assert (
        out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


# ---- staged vector-model reads (r17 coda) ---------------------------
# The REBALANCE-at-write collapses fixture-scale staged tables to one
# parquet file, and the vector consumers' broadcast hash joins inherit
# the streamed side's scan partitioning — so the staged readers must
# go through the same gate (store/staging.py _fanned_model_read;
# measured A/B in PERF.md round-17 coda and SCALE_r17.json
# staged_reader_fan).


def test_staged_model_read_fans_single_file_table(spark):
    """A managed table whose scan yields one partition (the
    rebalanced fixture layout) must come back at defaultParallelism
    through the staged reader."""
    from gerrydb_etl_spark.store.staging import _fanned_model_read

    name = "t_fanout_gate_single"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .coalesce(1)
        .write.saveAsTable(name)
    )
    try:
        assert spark.table(name).rdd.getNumPartitions() == 1
        out = _fanned_model_read(spark, name)
        assert (
            out.rdd.getNumPartitions()
            == spark.sparkContext.defaultParallelism
        )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_staged_model_read_noop_at_production_file_counts(spark):
    """A staged table already split to >= parallelism files (the
    production rebalance output at real model sizes) must read
    through with NO round-robin exchange — the no-extra-shuffle
    claim at 100 TB."""
    from gerrydb_etl_spark.store.staging import _fanned_model_read

    par = spark.sparkContext.defaultParallelism
    name = "t_fanout_gate_presplit"
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .repartition(par)
        .write.saveAsTable(name)
    )
    try:
        assert spark.table(name).rdd.getNumPartitions() >= par
        out = _fanned_model_read(spark, name)
        plan = out._jdf.queryExecution().executedPlan().toString().lower()
        assert "roundrobinpartitioning" not in plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_staged_reader_fan_scope(spark):
    """The measured per-reader contract (_fanned_model_read SCOPE):
    the staged IVF assignment — whose ivf_topk/multiprobe consumers
    broadcast their query side and so inherit this scan's
    partitioning for their fold chains — reads FANNED; the staged
    k-means assignment reads PLAIN (its heavy consumers fan inside _blocked_qd, its
    light sub-second consumers regress 2x under a reader-level
    fan)."""
    from gerrydb_etl_spark.store.staging import IVF, KMEANS

    par = spark.sparkContext.defaultParallelism
    assigned, cents = IVF.read(spark, SF_SMOKE, 16, 2)
    assert assigned.rdd.getNumPartitions() >= min(
        par, 16
    ), "staged IVF assignment read is not fanned"
    assert isinstance(cents, dict) and cents
    asn = KMEANS.read(spark, SF_SMOKE, k=8, iters=3)
    plan = asn._jdf.queryExecution().executedPlan().toString().lower()
    assert "roundrobinpartitioning" not in plan, (
        "staged k-means must read plain — the fan regresses its "
        "light consumers (measured, PERF.md round-17 coda)"
    )
