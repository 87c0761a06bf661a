"""Dense sequential ID assignment at scale.

The naive spelling — ``row_number() OVER (ORDER BY key)`` with no
partition clause — funnels every row through ONE reducer: correct at
60k rows, dead at 100 TB. The reference sidesteps the problem only
because pandas is single-process (implicit positional index, e.g.
its per-frame iteration in pl_geo.py); a distributed engine has to
earn density.

Scalable spelling (the two-phase zipWithIndex, DataFrame-native):

1. ``repartitionByRange(key)`` + ``sortWithinPartitions(key)`` —
   one range shuffle; partition p holds a contiguous, sorted key
   range, all partitions in parallel.
2. Count rows per partition (map-side agg; #partitions rows —
   bounded model state) and prefix-sum into per-partition start
   offsets.
3. A narrow pass adds ``offset[pid] + position`` — no further
   shuffle; the expensive ordering work stays step 1.

The id pass is JVM-native: in-partition position comes from
``monotonically_increasing_id()`` (pid·2³³ + physical position over
the pinned layout — exactly the position the old Arrow pass
enumerated) and the offsets ride a broadcast hash join on the
bounded per-partition count table, so the assignment plan has no
BatchEvalPython/ArrowEvalPython node and no driver collect
barrier. The offset prefix-sum is a single-partition window over
#shuffle-partitions rows — the same bounded model-state scale
contract as the driver-side fold it replaces (guide §4/§5).

Determinism requires the key to be unique (ties would make
intra-partition order unstable); callers pass the full unique key.
The input is analyzed twice (count pass + id pass) — same I/O
contract as RDD ``zipWithIndex`` — so at scale callers should feed
a materialized (checkpointed/written) input, not a long lineage.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window as W

from gerrydb_etl_spark.operators.checkpointing import checkpoint_once


def assign_dense_ids(
    df: DataFrame,
    key_cols: list[str],
    id_col: str = "row_id",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Add a dense 0-based sequential ``id_col`` ordered by
    ``key_cols`` without a global single-reducer sort.

    Fault-tolerance tradeoff: the default pin is ``localCheckpoint``,
    which stores the range-sorted blocks on the EXECUTORS — fast (no
    DFS round-trip) but non-resilient: losing any executor aborts the
    job, because truncated lineage cannot recompute the lost blocks,
    and the whole sorted input must fit executor memory+disk. That is
    the right default on a single-node/local session; on a large
    cluster pass ``checkpoint_dir`` to use a RELIABLE checkpoint
    (HDFS/S3-backed, survives executor loss) — the same two-mode
    pattern as operators/components.py.

    Positions use ``monotonically_increasing_id``'s 33-bit
    per-partition counter, so a single range partition past 2³³ rows
    (~8.6 B — orders of magnitude past any sane task size; raise
    ``num_partitions`` long before that) would alias positions.
    """
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    keys = [F.col(c) for c in key_cols]
    # Materialize the range-partitioned layout ONCE: the count pass
    # and the id pass must see identical partition boundaries, and
    # re-execution (AQE re-planning, lineage recompute) does not
    # guarantee that. This is the same materialize-then-index
    # contract RDD zipWithIndex has; checkpointing also truncates
    # the upstream lineage so the expensive sort runs once.
    parted = (
        df.repartitionByRange(int(parts), *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    parted = checkpoint_once(parted, checkpoint_dir)

    # Offsets stay DISTRIBUTED: the per-partition count table
    # is #partitions rows — bounded model state — so its exclusive
    # prefix sum is a single-partition window over that bounded
    # frame (the same scale contract as the driver-side fold it
    # replaces, without the blocking collect). Empty partitions
    # simply have no counts row and contribute 0 to every later
    # offset.
    # Fail-loud guard: positions alias past 2³³ rows in
    # ONE range partition, so the bounded counts table — not the data
    # path — carries the check. The guard rides the _n column itself
    # (every offset depends on it), so column pruning cannot elide it;
    # cost is one comparison per partition row.
    n_guarded = F.when(F.col("_n") < F.lit(1 << 33), F.col("_n")).otherwise(
        F.raise_error(
            F.concat(
                F.lit("assign_dense_ids: a range partition holds "),
                F.col("_n").cast("string"),
                F.lit(
                    " rows, past the 2^33 per-partition position domain"
                    " of monotonically_increasing_id — raise"
                    " num_partitions"
                ),
            )
        ).cast("long")
    )
    counts = (
        parted.groupBy("_pid")
        .agg(F.count("*").alias("_n"))
        .select("_pid", n_guarded.alias("_n"))
    )
    offs = counts.select(
        "_pid",
        F.coalesce(
            F.sum("_n").over(
                W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ).alias("_off"),
    )
    # In-partition position from monotonically_increasing_id over the
    # PINNED layout: the checkpoint fixes partition membership and
    # physical row order (range-partitioned, sorted), so
    # mid = pid·2³³ + position and position = mid % 2³³ — exactly the
    # enumeration the old Arrow pass produced, with no Python
    # boundary. The broadcast hash join on _pid keeps the big side's
    # partitioning (no shuffle); both branches read the one
    # checkpointed materialization, so the boundary-consistency
    # contract is unchanged.
    return (
        parted.withColumn("_mid", F.monotonically_increasing_id())
        .join(F.broadcast(offs), "_pid")
        .withColumn(
            id_col,
            (F.col("_off") + F.col("_mid") % F.lit(1 << 33)).cast("long"),
        )
        .drop("_pid", "_mid", "_off")
    )


def assign_prefix_sums(
    df: DataFrame,
    key_cols: list[str],
    weight_col: str,
    out_col: str = "running_total",
    num_partitions: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Add the INCLUSIVE global running total of ``weight_col``
    ordered by ``key_cols`` — the weighted sibling of
    ``assign_dense_ids``, replacing the single-reducer
    ``SUM() OVER (ORDER BY ...)`` window with the same two-phase
    shape: range-partition + in-partition sort (parallel), bounded
    per-partition WEIGHT sums to the driver, prefix-summed into
    start offsets, then one narrow Arrow pass adds
    ``offset[pid] + in-partition cumsum``. Matches
    ``SUM(w) OVER (ORDER BY keys ROWS BETWEEN UNBOUNDED PRECEDING
    AND CURRENT ROW)`` exactly for non-null integer weights (the
    per-batch cumsum is exact int arithmetic; uniqueness of the key
    makes the order total). NULL weights contribute 0 in BOTH phases
    (the driver offset pass and the Arrow cumsum), so the output is
    total and deterministic; this departs from the SQL window only
    on an all-NULL prefix, where SUM() OVER would yield NULL rather
    than 0. Same materialize-once and checkpoint tradeoffs as
    assign_dense_ids."""
    parts = num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    keys = [F.col(c) for c in key_cols]
    parted = (
        df.repartitionByRange(int(parts), *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
    )
    parted = checkpoint_once(parted, checkpoint_dir)

    sums = (
        parted.groupBy("_pid")
        .agg(F.sum(weight_col).alias("_w"))
        .collect()
    )
    offsets: dict[int, int] = {}
    acc = 0
    for row in sorted(sums, key=lambda r: r["_pid"]):
        offsets[row["_pid"]] = acc
        acc += int(row["_w"] or 0)
    b_offsets = df.sparkSession.sparkContext.broadcast(offsets)

    out_schema = T.StructType(
        [f for f in parted.schema.fields if f.name != "_pid"]
        + [T.StructField(out_col, T.LongType(), False)]
    )

    def add_sums(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry = 0
        start = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if start is None:
                start = b_offsets.value[int(pdf["_pid"].iloc[0])]
            pdf = pdf.drop(columns=["_pid"])
            # NULL weights contribute 0, matching the driver offset
            # pass (`int(row["_w"] or 0)`) and SUM() OVER's
            # null-skipping — without this the pandas cumsum
            # propagates NaN through the rest of the batch
            w = pdf[weight_col].fillna(0)
            cums = w.cumsum() + (start + carry)
            carry += int(w.sum())
            pdf[out_col] = cums.astype("int64")
            yield pdf

    return parted.mapInPandas(add_sums, out_schema)
