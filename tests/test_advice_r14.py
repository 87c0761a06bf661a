"""Regression tests for the round-14 ADVICE items: the SCD-2 probe
determinism hazard, the dead double fan_out in kmeans staging, and
(in test_bench_ratchet.py) the baseline roll-forward fix."""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F


def test_probe_append_pins_nondeterministic_incoming(spark, tmp_path):
    """ADVICE r14 (store/scd2.py): the append probe is an eager
    action, but the returned plan used to re-evaluate ``incoming``
    lazily — a nondeterministic batch could pass the disjointness
    probe with one key set and materialize ANOTHER at write time,
    appending a second open version for an existing key. The merge
    now pins the batch with a lazy localCheckpoint, so the probe's
    verdict and the written rows agree.

    The flaky batch here yields key 100 on its first evaluation and
    101 (= the key already open in ``current``) on any re-evaluation,
    via a file-backed counter shared by all local executors."""
    from gerrydb_etl_spark.store.scd2 import (
        assert_version_invariants,
        current_view,
        scd2_merge,
    )

    counter = str(tmp_path / "evals")

    @F.udf("long")
    def flaky_key(i):
        import os

        n = int(open(counter).read()) if os.path.exists(counter) else 0
        with open(counter, "w") as f:
            f.write(str(n + 1))
        return 100 + n

    incoming = (
        spark.range(1)
        .coalesce(1)
        .select(flaky_key(F.col("id")).alias("k"), F.lit(1.0).alias("v"))
    )
    current = spark.createDataFrame(
        [(101, 5.0, 1)], "k long, v double, valid_from long"
    ).withColumn("valid_to", F.lit(None).cast("long"))

    merged = scd2_merge(current, incoming, ["k"], version=2)
    rows = {r["k"]: r for r in current_view(merged).collect()}
    # the probe saw key 100 (disjoint -> fast path); the pinned batch
    # must append that SAME key, not a re-rolled 101
    assert set(rows) == {100, 101}, rows
    assert rows[100]["valid_from"] == 2
    assert rows[101]["valid_from"] == 1  # untouched open row
    assert_version_invariants(merged, ["k"])


def test_staged_kmeans_has_no_outer_fan_out():
    """ADVICE r14 (store/staging.py): kmeans_train fans the corpus
    out internally, so the k-means fixture's build must not wrap it
    again (dead weight + an extra getNumPartitions plan conversion).
    The ivf/pq builds keep their explicit fan_out (through the
    quantized corpus they share) — the paths they feed
    (quantize/_train) have none of their own — and so does the LSH
    signature build."""
    from gerrydb_etl_spark.operators.kmeans import kmeans_train
    from gerrydb_etl_spark.store import staging

    assert "fan_out(" not in inspect.getsource(staging.KMEANS.build)
    assert "fan_out(" in inspect.getsource(kmeans_train)
    for fx in (staging.IVF, staging.PQ):
        assert "_quantized_corpus(" in inspect.getsource(fx.build)
    assert "fan_out(" in inspect.getsource(staging._quantized_corpus)
    assert "fan_out(" in inspect.getsource(staging.LSH_SIGS.build)
