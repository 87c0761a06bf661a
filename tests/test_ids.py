"""Dense-ID assignment (operators/ids.py): density, key-order
correctness, determinism across invocations, and degenerate inputs.
The registered query's oracle already proves parity with the
single-reducer row_number(); these pin the operator's contract on
inputs the corpus can't produce."""

from __future__ import annotations

from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.ids import assign_dense_ids


def test_ids_are_dense_and_key_ordered(spark):
    df = spark.range(0, 1000).select(
        (F.col("id") * 7919 % 1000).alias("k"), F.col("id").alias("payload")
    )
    out = assign_dense_ids(df, ["k"], num_partitions=8).collect()
    assert len(out) == 1000
    by_id = sorted(out, key=lambda r: r["row_id"])
    assert [r["row_id"] for r in by_id] == list(range(1000))
    ks = [r["k"] for r in by_id]
    assert ks == sorted(ks)


def test_ids_deterministic_across_runs(spark):
    df = spark.range(0, 500).select((F.col("id") % 97).alias("salt"), "id")
    a = {r["id"]: r["row_id"] for r in assign_dense_ids(df, ["id"], num_partitions=5).collect()}
    b = {r["id"]: r["row_id"] for r in assign_dense_ids(df, ["id"], num_partitions=5).collect()}
    assert a == b


def test_ids_single_row_and_more_partitions_than_rows(spark):
    df = spark.createDataFrame([(42, "x")], ["k", "v"])
    (row,) = assign_dense_ids(df, ["k"], num_partitions=8).collect()
    assert row["row_id"] == 0 and row["k"] == 42 and row["v"] == "x"


def test_ids_empty_input(spark):
    df = spark.createDataFrame([], "k INT, v STRING")
    assert assign_dense_ids(df, ["k"], num_partitions=4).count() == 0


def test_reliable_checkpoint_sets_dir_once_and_stays_correct(spark, tmp_path):
    """checkpoint_once must not re-point the global checkpoint dir on
    every call (each setCheckpointDir mints a new UUID subdir) and the
    persist->checkpoint->unpersist sequence must leave no cache behind
    while producing the same dense ids."""
    from gerrydb_etl_spark.operators.checkpointing import ensure_checkpoint_dir
    from gerrydb_etl_spark.operators.ids import assign_dense_ids

    sc = spark.sparkContext
    ckpt = str(tmp_path / "ckpt")
    ensure_checkpoint_dir(sc, ckpt)
    resolved = sc.getCheckpointDir()
    ensure_checkpoint_dir(sc, ckpt)
    assert sc.getCheckpointDir() == resolved, "dir re-set on identical path"

    df = spark.range(0, 500).select(
        (F.col("id") * 7 % 500).alias("k"), F.col("id").alias("payload")
    )
    out = assign_dense_ids(df, ["k"], checkpoint_dir=ckpt)
    rows = sorted((r.k, r.row_id) for r in out.collect())
    assert [rid for _, rid in rows] == list(range(500))
    assert [k for k, _ in rows] == sorted({i * 7 % 500 for i in range(500)})


def test_prefix_sums_match_window_spelling(spark):
    """assign_prefix_sums must equal the single-reducer
    SUM() OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING AND CURRENT
    ROW) spelling row-for-row on a skewed weighted input — including
    tie-free total ordering via the composite key."""
    from pyspark.sql.window import Window as W

    from gerrydb_etl_spark.operators.ids import assign_prefix_sums

    df = spark.range(0, 997).select(
        (F.col("id") * 31 % 113).alias("k"),
        F.col("id").alias("uid"),
        (F.col("id") % 17 + 1).alias("w"),
    )
    got = {
        (r.k, r.uid): r.running_total
        for r in assign_prefix_sums(df, ["k", "uid"], "w").collect()
    }
    win = W.orderBy("k", "uid").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        (r.k, r.uid): r.rt
        for r in df.withColumn("rt", F.sum("w").over(win)).collect()
    }
    assert got == want
    assert max(got.values()) == sum(i % 17 + 1 for i in range(997))


def test_prefix_sums_single_row_and_empty_partitions(spark):
    from gerrydb_etl_spark.operators.ids import assign_prefix_sums

    one = spark.range(0, 1).select(
        F.col("id").alias("k"), F.lit(42).alias("w")
    )
    rows = assign_prefix_sums(one, ["k"], "w").collect()
    assert len(rows) == 1 and rows[0].running_total == 42


def test_prefix_sums_null_weights_contribute_zero(spark):
    """NULL weights must contribute 0 in BOTH phases (a driver
    offset pass that coerces a NULL partition sum to 0 next to an
    Arrow cumsum that propagates NaN corrupts the int64 cast). Every row keeps a deterministic total; non-null rows
    match the null-skipping window spelling."""
    from pyspark.sql.window import Window as W

    from gerrydb_etl_spark.operators.ids import assign_prefix_sums

    df = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 3 == 0, None)
        .otherwise(F.col("id") % 7 + 1)
        .alias("w"),
    )
    got = {
        r.k: r.running_total
        for r in assign_prefix_sums(df, ["k"], "w").collect()
    }
    assert len(got) == 200
    win = W.orderBy("k").rowsBetween(W.unboundedPreceding, W.currentRow)
    want = {
        r.k: r.rt
        for r in df.withColumn(
            "rt", F.sum(F.coalesce("w", F.lit(0))).over(win)
        ).collect()
    }
    assert got == want
    # row 0 has a NULL weight: total is 0 (the documented NULL->0
    # contract), not NULL/NaN
    assert got[0] == 0
