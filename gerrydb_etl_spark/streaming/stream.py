"""Structured Streaming: one runner, its sources and its sinks.

`run_stream` drives every streaming query in the package to
completion with Trigger.AvailableNow. It owns what a run needs
besides its transform and its sink: the run's directories
(checkpoint, staged input, epoch batches), the state-store partition
count, the one start/await site, and the removal of every directory
it created. A query supplies:

* a source — a function of the run's staging directory returning a
  streaming DataFrame: `events_source` (the events file through
  symlinks, with the batch loader's ts normalization) or
  `epoch_source` (a table staged as deterministic key-range
  micro-batch files, read by `read_epoch_stream`);
* a sink — `MemorySink` (the memory sink, drained executor-side),
  `LastEpochSink` (complete-mode foreachBatch parquet epochs; the
  last committed one is the answer) or `EpochSink` (foreachBatch
  epochs behind commit markers, handed to a finishing function that
  publishes, unions or merges them).

The batch window builders (streaming/windows.py) are reused verbatim
— window()/session_window are stream-compatible — with a watermark
for state eviction. Stateful custom operator: `running_user_cents`
uses applyInPandasWithState (Arrow-batched per-group state) to keep a
running per-user event count and integer-cent sum across
micro-batches.

Scale notes: the file source lists+splits input like batch parquet;
state store size for the windowed aggs is bounded by watermark
eviction; per-user state for running totals is O(distinct users).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from collections.abc import Callable, Iterator
from functools import reduce
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.window import Window

from gerrydb_etl_spark.sources.registry import (
    _EVENTS_PHYSICAL,
    TABLE_SCHEMAS,
    events_ts_is_nanos,
)
from gerrydb_etl_spark.store.staging import EPOCHS, IVF


# target compressed input bytes per state-store partition when
# deriving a scale-adaptive partition count (see
# scaled_state_partitions): at driver bench scale (events ~2 MB) the
# floor of 8 binds — exactly the constant the heads carried before —
# so x1 plans and floors are byte-identical; a 10x corpus derives ~32
# and a production corpus saturates cluster parallelism.
_STATE_PARTITION_BYTES = 640 << 10


def scaled_state_partitions(
    spark: SparkSession, sf_dir: str, table: str = "events", floor: int = 8
) -> int:
    """Scale-adaptive state-store partition count (r18, the VERDICT
    r17 item-1 lever): every micro-batch commits one state file per
    partition, so a bounded test stream wants FEW partitions (the
    run_stream note: 32 partitions spent more time in state-store
    commit I/O than aggregation at bench scale), while a scaled
    stream wants state spread — the x10 battery measured the
    stateful-UDF head 4.17 s at 8 partitions vs 3.06 s at 32
    (.scale/opt_r18_x10_ab.json). Deriving the count from input size
    (clamped to [floor, cluster parallelism]) keeps the bench-scale
    value exactly at the old constant and scales past it only when
    the corpus does; unknown sizes (non-file sources) stay at the
    floor."""
    from gerrydb_etl_spark.operators.partitioning import _input_bytes
    from gerrydb_etl_spark.sources.registry import load_table

    size = _input_bytes(load_table(spark, sf_dir, table))
    if not size:
        return floor
    return max(
        floor,
        min(
            spark.sparkContext.defaultParallelism,
            size // _STATE_PARTITION_BYTES,
        ),
    )


# ---- the runner --------------------------------------------------------


def run_stream(
    spark: SparkSession,
    source: Callable[[str], DataFrame],
    sink: MemorySink | EpochSink,
    state_partitions: int | None = None,
    work_dir: str | None = None,
) -> Any:
    """Run ``source`` into ``sink`` with Trigger.AvailableNow and
    return ``sink.result``.

    The run's directories live under one root: ``<root>/ckpt`` (the
    checkpoint), ``<root>/stage`` (handed to ``source`` for its input
    files) and whatever the sink keeps there (``batches``, the dedup
    ``index``). The root is ``work_dir`` when given — caller-owned
    and kept, so a re-run with the same ``work_dir`` resumes from the
    checkpoint (already-processed files are not redelivered) and
    replayed epochs hit their commit markers — otherwise a temp
    directory removed before returning, however the run ends; the
    sink's result must then be materialized (pinned or published)
    inside ``sink.result``. A memory sink's table is dropped however
    the run ends, too.

    ``state_partitions`` sets the session's shuffle partition count
    for the run: the state-store partition count at first start (the
    checkpoint pins it afterwards). Size it to event volume: every
    micro-batch commits one state file per partition, so a bounded
    test stream at the session default of 32 partitions spends more
    time in state-store commit I/O than in the aggregation
    (measured: session windows 10.1 s at 32 partitions → 2.6 s at 8,
    same result); a production stream wants hundreds. None keeps the
    session setting. The previous value is restored however the run
    ends."""
    root = tempfile.mkdtemp(prefix="stream_") if work_dir is None else work_dir
    os.makedirs(root, exist_ok=True)
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        if state_partitions is not None:
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
        stream = source(os.path.join(root, "stage"))
        query = (
            sink.attach(stream.writeStream.outputMode(sink.mode), root)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        return sink.result(spark, root)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        if isinstance(sink, MemorySink):
            # a run that fails inside the stream never drains
            spark.catalog.dropTempView(sink.name)
        if work_dir is None:
            shutil.rmtree(root, ignore_errors=True)


# ---- sinks -------------------------------------------------------------

# Driver-side ceiling for memory-sink drains. The memory sink holds
# the stream's OUTPUT (state-store cardinality: windows x keys), not
# its input — bounded for watermarked appends, but complete/update
# modes grow with distinct groups, and at 100x events that is the one
# driver-side bottleneck left in this module (VERDICT r14 item 6).
# The guard turns the failure mode from an undiagnosable driver OOM
# into a named contract error pointing at LastEpochSink.
MEMSINK_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_MEMSINK_MAX_ROWS", "2000000")
)


def _drain_memory_sink(
    spark: SparkSession, name: str, max_rows: int | None = None
) -> DataFrame:
    """Materialize a memory-sink table executor-side and drop the
    sink's temp view, so repeated streaming runs leave no registered
    tables behind. The sink's rows are pinned with an eager
    localCheckpoint — block storage, never a Python round-trip. The
    pre-r18 spelling collected every row into driver Python and
    re-uploaded it through createDataFrame (per-row pickle + schema
    verification both ways); the stage-split probe measured that
    round-trip at ~2.3 s of events_stream_join_attribution's ~4.8 s
    wall (.scale/opt_r18_stream_split.json — guide §4: eliminate the
    JVM<->Python boundary, §5: no driver loops in query paths). Rows
    and schema are exactly the sink table's either way.

    The pin has a condition: localCheckpoint blocks live only in the
    executors that computed them, so on a non-local master an
    executor loss (or dynamic allocation releasing it) makes the
    returned DataFrame unrecoverable — there is no lineage left to
    recompute it from. The driver-collect spelling survived executor
    loss; a cluster deployment that cannot rule it out should read
    the result through LastEpochSink's durable parquet instead.

    The materialized size is bounded by the windowed-aggregate
    cardinality (state-store output), never by the input row count —
    and that bound is ENFORCED at MEMSINK_MAX_ROWS: a stream whose
    group cardinality outgrows the driver (complete-mode windows
    over unbounded time ranges) fails with a named error instead of
    an OOM. The sink accumulated in the driver while the stream ran,
    so the guard documents the ceiling and names the scale path
    (LastEpochSink, whose output never touches the driver) rather
    than pretending to prevent the allocation."""
    cap = MEMSINK_MAX_ROWS if max_rows is None else max_rows
    snap = spark.table(name)
    n = snap.count()
    if n > cap:
        spark.catalog.dropTempView(name)
        raise ValueError(
            f"memory sink '{name}' holds {n} rows, past the "
            f"driver-side cap of {cap}: complete/update-mode memory "
            "sinks are driver-bounded by design — route this stream "
            "through LastEpochSink (foreachBatch parquet, "
            "executor-side materialization) or raise "
            "SPARK_GRAFT_MEMSINK_MAX_ROWS if the driver is sized "
            "for it"
        )
    pinned = snap.localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return pinned


class MemorySink:
    """The memory sink in output mode ``mode``; when the run ends its
    rows are drained executor-side (`_drain_memory_sink`) and the
    sink's table is dropped."""

    def __init__(self, mode: str) -> None:
        self.mode = mode
        self.name = f"mem_{uuid.uuid4().hex[:8]}"

    def attach(self, writer: DataStreamWriter, root: str) -> DataStreamWriter:
        return writer.format("memory").queryName(self.name)

    def result(self, spark: SparkSession, root: str) -> DataFrame:
        return _drain_memory_sink(spark, self.name)


def _write_parquet(batch_df: DataFrame, dest: str, batch_id: int) -> None:
    """The default epoch write: the micro-batch as parquet at ``dest``."""
    batch_df.write.mode("overwrite").parquet(dest)


def epoch_sink(
    batches_root: str,
    write: Callable[[DataFrame, str, int], None] = _write_parquet,
):
    """foreachBatch function: micro-batch N is written by
    ``write(batch_df, dest, N)`` to ``dest = <batches_root>/b_{N:06d}``
    and then a commit marker is dropped beside it. Spark replays a
    failed batch under the SAME epoch id; a replayed epoch finds its
    marker and is a no-op, which upgrades Spark's at-least-once batch
    delivery to an exactly-once sink (the standard foreachBatch
    idempotence recipe)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        dest = os.path.join(batches_root, f"b_{batch_id:06d}")
        marker = dest + ".committed"
        if os.path.exists(marker):  # replayed epoch -> no-op
            return
        write(batch_df, dest, batch_id)
        with open(marker, "w") as f:
            f.write(str(batch_id))

    return sink


def committed_epochs(batches_root: str) -> list[str]:
    """The committed epoch directories under ``batches_root``, in
    epoch order. Zero epochs (an empty source stream) raise: a bare
    spark.read.parquet(*[]) fails with a confusing missing-path
    error, and a run that committed nothing must not publish a
    phantom result."""
    committed = sorted(
        os.path.join(batches_root, m[: -len(".committed")])
        for m in os.listdir(batches_root)
        if m.endswith(".committed")
    )
    if not committed:
        raise ValueError(
            "no micro-batches were committed — the source stream "
            f"produced no data for {batches_root!r}"
        )
    return committed


class EpochSink:
    """foreachBatch epochs (`epoch_sink`) under ``<root>/batches``,
    each written by ``write``; when the run ends ``finish`` receives
    the committed epoch directories and its return value is the
    run's result. Append mode: epochs are the micro-batches' own
    rows."""

    mode = "append"

    def __init__(
        self,
        write: Callable[[DataFrame, str, int], None] = _write_parquet,
        finish: Callable[[list[str]], Any] = lambda committed: committed,
    ) -> None:
        self.write = write
        self.finish = finish

    def attach(self, writer: DataStreamWriter, root: str) -> DataStreamWriter:
        batches = os.path.join(root, "batches")
        os.makedirs(batches, exist_ok=True)
        return writer.foreachBatch(epoch_sink(batches, self.write))

    def result(self, spark: SparkSession, root: str) -> Any:
        return self.finish(committed_epochs(os.path.join(root, "batches")))


class LastEpochSink(EpochSink):
    """Scale twin of MemorySink: the aggregate leaves the stream
    through foreachBatch parquet epochs instead of a driver-resident
    memory sink, so NO result row ever passes through the driver —
    the path a 100x-events complete-mode stream must take past the
    MEMSINK_MAX_ROWS ceiling. After termination the LAST committed
    epoch — the final answer under complete mode — is pinned
    executor-side with an eager localCheckpoint (blocks live in
    executor storage, never the driver) so the run's directories can
    be removed. A production caller would instead keep the epoch
    directory as the published table.

    Complete mode ONLY: the last epoch is the full answer precisely
    because each complete-mode epoch rewrites the whole aggregate.
    Under append/update the epochs are DELTAS — returning the last
    one would silently drop every earlier micro-batch's rows (ADVICE
    r15) — so any other mode raises at construction; an append-mode
    caller wants the union of all committed epochs, which is an
    EpochSink finish."""

    mode = "complete"

    def __init__(self, mode: str) -> None:
        if mode != "complete":
            raise ValueError(
                f"LastEpochSink supports mode='complete' only "
                f"(got {mode!r}): the last committed epoch IS the "
                "answer only when every epoch rewrites the full "
                "aggregate; for append-mode epochs use EpochSink and "
                "read the union of committed batch dirs"
            )
        super().__init__()

    def result(self, spark: SparkSession, root: str) -> DataFrame:
        last = committed_epochs(os.path.join(root, "batches"))[-1]
        return spark.read.parquet(last).localCheckpoint(eager=True)


def publish_epochs(
    spark: SparkSession,
    table_root: str,
    audit: Callable[[DataFrame], None],
    notes: str,
) -> Callable[[list[str]], dict]:
    """EpochSink finish: audit the union of the committed epochs and
    publish it as ONE atomic version of the versioned store at
    ``table_root`` (store/wap.py) — readers never observe a
    half-ingested stream. Returns {"version", "batches"}."""
    from gerrydb_etl_spark.store.wap import VersionedTable

    def finish(committed: list[str]) -> dict:
        ingested = spark.read.parquet(*committed)
        version = VersionedTable(spark, table_root).write(
            ingested, audits=[audit], notes=notes
        )
        return {"version": version, "batches": len(committed)}

    return finish


def _union_epochs(spark: SparkSession, committed: list[str]) -> DataFrame:
    """Each epoch dir is its own parquet root (possibly partitioned),
    so read them individually and union (metadata-only listing)."""
    return reduce(
        DataFrame.unionByName, [spark.read.parquet(d) for d in committed]
    )


# ---- events source -----------------------------------------------------


def stage_events(sf_dir: str, stage: str, copies: int = 1) -> str:
    """The driver ships events as a single parquet FILE; the file
    stream source only accepts directories, so expose the file as
    ``copies`` symlinks in the ``stage`` directory (no data copy) and
    return it. Two or more copies make the source deliver every
    event that many times — a deterministic stand-in for an
    at-least-once upstream (replayed Kafka offsets, retried file
    drops)."""
    src = os.path.join(sf_dir, "events.parquet")
    os.makedirs(stage, exist_ok=True)
    for i in range(copies):
        link = os.path.join(stage, f"events_{i}.parquet")
        if not os.path.lexists(link):
            os.symlink(src, link)
    return stage


def read_events_stream(
    spark: SparkSession,
    sf_dir: str,
    stage: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream over the staged events directory (file source),
    with the same ts normalization as the batch loader (footer sniff:
    nanos generations get the ns->µs conversion, micros generations a
    native timestamp read)."""
    src = os.path.join(sf_dir, "events.parquet")

    def reader(schema):
        r = spark.readStream.schema(schema)
        if max_files_per_trigger is not None:
            # bound each micro-batch to N input files — the lever that
            # forces MULTIPLE micro-batches over a bounded file set, so
            # tests can prove state really carries across batches
            r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
        return r.parquet(stage)

    if events_ts_is_nanos(src):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader(_EVENTS_PHYSICAL)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return reader(TABLE_SCHEMAS["events"])


def events_source(
    spark: SparkSession,
    sf_dir: str,
    transform: Callable[[DataFrame], DataFrame],
    copies: int = 1,
    max_files_per_trigger: int | None = None,
) -> Callable[[str], DataFrame]:
    """run_stream source over the events table: ``copies`` symlinks
    of the events file staged in the run's stage directory, read by
    read_events_stream, then ``transform``."""

    def source(stage: str) -> DataFrame:
        stage_events(sf_dir, stage, copies)
        return transform(
            read_events_stream(spark, sf_dir, stage, max_files_per_trigger)
        )

    return source


# ---- stateful operator -------------------------------------------------

USER_CENTS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_cents", T.LongType()),
    ]
)

_CENTS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("cents", T.LongType()),
    ]
)


def _update_user_cents(
    key: tuple[Any, ...],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["value_cents"].sum())
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_cents": [cents]}
    )


def running_user_cents(events: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user running event
    count + value sum via applyInPandasWithState. State is one tiny
    tuple per user; Arrow batches carry the group's rows. The
    monetary column is converted to integer cents JVM-side (decimal
    cast, so 0.1*100 is exactly 10) BEFORE the UDF, and the
    per-group state sums int64 — summation order can't perturb the
    result, which is what lets a custom applyInPandasWithState
    operator share a plain GROUP BY oracle. Update mode: the stream
    emits one row per (user, micro-batch) whose state changed."""
    cents = events.select(
        "user_id",
        (F.col("value").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("value_cents"),
    )
    return cents.groupBy("user_id").applyInPandasWithState(
        _update_user_cents,
        outputStructType=USER_CENTS_SCHEMA,
        stateStructType=_CENTS_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_versioned_store(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    max_files_per_trigger: int | None = 1,
) -> dict:
    """Exactly-once streaming ingest of the events table into the
    versioned store: foreachBatch + batch-id idempotence
    (`epoch_sink`) + write-audit-publish (`publish_epochs`). Spark
    only guarantees at-least-once delivery to the batch function;
    the commit markers supply the dedup. When the AvailableNow run
    drains, the union of committed batches is audited (row-count
    reconciliation against the source) and published as ONE atomic
    version.

    Returns {"version", "batches"} for the published load.
    Scale: per-batch work is an append-only parquet write of that
    batch's rows; the final union read is metadata-only listing; the
    publish is an O(1) pointer swap regardless of history size.
    """
    src = os.path.join(sf_dir, "events.parquet")

    def audit_counts(df: DataFrame) -> None:
        n_src = spark.read.parquet(src).count()
        assert df.count() == n_src, "streamed rows != source rows"

    return run_stream(
        spark,
        events_source(
            spark,
            sf_dir,
            lambda df: df.select("event_id", "ts", "user_id", "event_type", "value"),
            max_files_per_trigger=max_files_per_trigger,
        ),
        EpochSink(
            finish=publish_epochs(
                spark, table_root, audit_counts, "streaming ingest"
            )
        ),
        state_partitions=4,
    )


# ---- staged epoch source -----------------------------------------------

# target compressed bytes per staged epoch FILE when auto-splitting
# (see _files_per_epoch): at driver bench scale every epoch stays a
# single file (identical staging to the pre-r17 harness), while a
# scaled corpus gets one file per ~2 MB so no single writer task
# serializes the whole epoch.
_EPOCH_FILE_BYTES = 2 << 20


def _files_per_epoch(
    spark: SparkSession, sf_dir: str, table: str, n_batches: int
) -> int:
    """Auto-scale how many files each staged epoch spans (VERDICT r16
    item 2): the single-file-per-epoch staging writes each epoch with
    ONE task by definition — an O(rows) serial term that belongs to
    the demo harness, not the stream. A production epoch spans many
    source files; mirroring that, each epoch is split into
    ceil(source_bytes / (n_batches * _EPOCH_FILE_BYTES)) files,
    capped at cluster parallelism. Unknown sizes (non-local sources)
    stay at 1."""
    from gerrydb_etl_spark.operators.partitioning import _input_bytes
    from gerrydb_etl_spark.sources.registry import load_table

    size = _input_bytes(load_table(spark, sf_dir, table))
    if not size:
        return 1
    per_epoch = size // n_batches
    return max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            per_epoch // _EPOCH_FILE_BYTES,
        ),
    )


def _stage_key_range_batches(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key_col: str,
    prefix: str,
    n_batches: int = 4,
    files_per_batch: int = 1,
) -> str:
    """Stage ``table`` as ``n_batches`` micro-batch epochs of
    ``files_per_batch`` single-file parquets each, holding ascending
    ``key_col`` ranges. Every file of epoch i shares mtime t0+i and
    carries an ascending path name — the file stream source orders
    pending files by (modification time, path), so
    maxFilesPerTrigger=files_per_batch delivers each epoch's exact
    file set as one deterministic micro-batch in key order. Caller
    owns cleanup of the returned directory."""
    import glob as _glob
    import time

    from gerrydb_etl_spark.sources.registry import load_table

    df = load_table(spark, sf_dir, table)
    lo0, hi = df.agg(F.min(key_col), F.max(key_col)).first()
    if hi is None:
        raise ValueError(
            f"{table} table is empty — no micro-batches to stage "
            f"from {sf_dir!r}"
        )
    n_files = n_batches * files_per_batch
    width = max(1, (hi - lo0 + n_files) // n_files)
    stage = tempfile.mkdtemp(prefix=f"{prefix}_stream_")
    t0 = time.time() - 3600

    def _write_file(task: tuple[int, int]) -> None:
        i, j = task
        f = i * files_per_batch + j
        lo = lo0 + f * width
        up = lo0 + (f + 1) * width if f < n_files - 1 else hi + 1
        tmp = tempfile.mkdtemp(prefix=f"{prefix}_batch_")
        (
            df.where((F.col(key_col) >= lo) & (F.col(key_col) < up))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        name = (
            f"b{i:03d}.parquet"
            if files_per_batch == 1
            else f"b{i:03d}_{j:02d}.parquet"
        )
        dest = os.path.join(stage, name)
        shutil.move(part, dest)
        shutil.rmtree(tmp, ignore_errors=True)
        # all files of epoch i share one mtime: ordering across epochs
        # is by mtime, within an epoch by path — both deterministic
        os.utime(dest, (t0 + i, t0 + i))

    # the single-file writes are independent single-task jobs
    # (coalesce(1) serializes each one internally), so run them as
    # concurrent Spark jobs — the scheduler interleaves them across
    # cores, and the deterministic mtimes are set AFTER each move, so
    # completion order cannot perturb the file-source delivery order.
    # At x10 bench scale this halves the staging wall the streamed
    # queries carry (VERDICT r15 item 5); with files_per_batch > 1 it
    # also removes the one-writer-per-EPOCH serial term (VERDICT r16
    # item 2).
    from concurrent.futures import ThreadPoolExecutor

    tasks = [
        (i, j) for i in range(n_batches) for j in range(files_per_batch)
    ]
    with ThreadPoolExecutor(max_workers=min(16, len(tasks))) as pool:
        list(pool.map(_write_file, tasks))
    return stage


# the staged epoch directories are a registry fixture
# (store/staging.py EPOCHS); this is the benchmark's historical name
ensure_staged_epoch_dir = EPOCHS.ensure


def read_epoch_stream(
    spark: SparkSession, stage: str, table: str
) -> DataFrame:
    """readStream over a staged epoch directory. The schema is the
    table's declared one (the staged files were written from
    load_table), so no inference job runs; maxFilesPerTrigger is the
    file count of epoch 0 (``b000*``), read from the directory's own
    layout, so every trigger delivers exactly one staged epoch."""
    per_epoch = sum(f.startswith("b000") for f in os.listdir(stage))
    return (
        spark.readStream.schema(TABLE_SCHEMAS[table])
        .option("maxFilesPerTrigger", per_epoch)
        .parquet(stage)
    )


def epoch_source(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key_col: str,
    n_batches: int,
    stage_dir: str | None = None,
    transform: Callable[[DataFrame], DataFrame] = lambda df: df,
) -> Callable[[str], DataFrame]:
    """run_stream source over ``table`` staged as ``n_batches``
    ascending ``key_col`` epochs. ``stage_dir`` is an already-staged,
    caller-owned directory (store/staging.py EPOCHS); without it the
    epochs are staged into the run's stage directory unless a
    previous run with the same work_dir left them there."""

    def source(stage: str) -> DataFrame:
        if stage_dir is not None:
            stage = stage_dir
        elif not (os.path.isdir(stage) and os.listdir(stage)):
            staged = _stage_key_range_batches(
                spark, sf_dir, table, key_col, table, n_batches,
                _files_per_epoch(spark, sf_dir, table, n_batches),
            )
            shutil.rmtree(stage, ignore_errors=True)
            shutil.move(staged, stage)
        return transform(read_epoch_stream(spark, stage, table))

    return source


# ---- streaming dedup ingest --------------------------------------------

# Loose per-epoch index files are folded into one bucketed compact
# generation once this many accumulate; per-batch index reads then
# touch O(COMPACT_EVERY + buckets) files forever, not O(B) batch dirs.
_INDEX_COMPACT_EVERY = 4
_INDEX_BUCKETS = 4


def _index_files(index_root: str, exclude_epoch: int | None = None) -> list[str]:
    """Parquet files making up the dedup index: compact-generation
    files plus loose per-epoch contributions. ``exclude_epoch`` drops
    the given epoch's own loose file — a crashed attempt may have
    written it before the commit marker, and the replay must not
    anti-join the batch against its own hashes."""
    if not os.path.isdir(index_root):
        return []
    skip = None if exclude_epoch is None else f"e_{exclude_epoch:06d}.parquet"
    return sorted(
        os.path.join(index_root, f)
        for f in os.listdir(index_root)
        if f.endswith(".parquet") and f != skip
    )


def _write_single_parquet(df: DataFrame, dest: str) -> None:
    """Write df as exactly one parquet file at ``dest`` (atomic
    os.replace), so a replayed epoch overwrites rather than
    duplicates its index contribution."""
    import glob as _glob

    tmp = tempfile.mkdtemp(prefix="idx_part_")
    try:
        df.repartition(1).write.mode("overwrite").parquet(tmp)
        parts = _glob.glob(os.path.join(tmp, "part-*.parquet"))
        if parts:  # an all-duplicates batch contributes no hashes
            os.replace(parts[0], dest)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _compact_index(spark: SparkSession, index_root: str, epoch: int) -> None:
    """Fold the PRIOR epochs' index files into one bucketed compact
    generation (``c_{epoch}_{bucket}.parquet``, hash-distributed on
    content_sha) and drop the loose files. Runs BEFORE epoch
    ``epoch`` writes its own contribution (and always excludes that
    epoch's loose file), so a compact generation never contains the
    current batch's hashes — a replay may therefore safely read it
    without anti-joining the batch against itself. Deterministic
    epoch-keyed names make a crashed-and-replayed compaction
    overwrite itself; a crash between writing the new generation and
    unlinking the old files leaves duplicate hashes in the index,
    which is harmless — the index is only ever the build side of an
    anti-join."""
    import glob as _glob

    old = _index_files(index_root, exclude_epoch=epoch)
    if not old:
        return
    merged = (
        spark.read.parquet(*old)
        .distinct()
        .repartition(_INDEX_BUCKETS, "content_sha")
    )
    tmp = tempfile.mkdtemp(prefix="idx_compact_")
    try:
        merged.write.mode("overwrite").parquet(tmp)
        for k, part in enumerate(
            sorted(_glob.glob(os.path.join(tmp, "part-*.parquet")))
        ):
            os.replace(
                part, os.path.join(index_root, f"c_{epoch:06d}_{k:03d}.parquet")
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # a crashed-then-replayed compaction re-reads its own c_{epoch}
    # files (they may hold hashes whose loose sources were already
    # unlinked) and rewrites them in place — don't unlink those
    keep = f"c_{epoch:06d}_"
    for f in old:
        if os.path.basename(f).startswith(keep):
            continue
        try:
            os.unlink(f)
        except FileNotFoundError:
            pass


def dedup_against_index(batch_df: DataFrame, dest: str, batch_id: int) -> None:
    """Epoch write for the streaming dedup ingest: keep the batch's
    first row per content_sha, anti-join the compacted content-hash
    index (the ONLY cross-batch state read — never the committed
    batch directories), write survivors to ``dest``, then append the
    survivors' hashes to the index. The index lives in ``index``
    beside the batches directory (``<root>/index`` in a run rooted at
    ``<root>``). Every step is replay-idempotent (deterministic paths;
    epoch_sink writes the commit marker last)."""
    index_root = os.path.join(os.path.dirname(os.path.dirname(dest)), "index")
    os.makedirs(index_root, exist_ok=True)
    sp = batch_df.sparkSession
    w = Window.partitionBy("content_sha").orderBy("doc_id")
    first = (
        batch_df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    # cross-batch state = ONE index table read; a crashed
    # attempt's own loose file is excluded so the replay
    # never anti-joins the batch against itself
    prior_files = _index_files(index_root, exclude_epoch=batch_id)
    if prior_files:
        prior = sp.read.parquet(*prior_files).select("content_sha")
        first = first.join(prior, "content_sha", "left_anti")
    first.write.mode("overwrite").parquet(dest)
    # compact BEFORE appending this epoch's hashes: compact
    # generations then only ever hold prior epochs' state
    loose = [
        f for f in prior_files if os.path.basename(f).startswith("e_")
    ]
    if len(loose) >= _INDEX_COMPACT_EVERY:
        _compact_index(sp, index_root, batch_id)
    # the index contribution re-reads the DURABLE batch dir (not
    # a cached/localCheckpoint'd plan — executor-resident blocks
    # vanish with a lost executor on a real cluster), so the
    # hashes entering the index are exactly the committed rows
    _write_single_parquet(
        sp.read.parquet(dest).select("content_sha"),
        os.path.join(index_root, f"e_{batch_id:06d}.parquet"),
    )


def run_docs_dedup_ingest(
    spark: SparkSession,
    sf_dir: str,
    table_root: str,
    n_batches: int = 4,
    work_dir: str | None = None,
    stage_dir: str | None = None,
) -> dict:
    """Streaming document ingest with CROSS-BATCH exact dedup into
    the versioned store — the production "recrawl arrives, keep only
    new content" pipeline as one streaming query:

    * the documents table streams in ``n_batches`` deterministic
      micro-batches (ascending doc_id ranges);
    * each batch keeps its first occurrence per content hash
      (batch-local window, per-sha groups are tiny), then anti-joins
      ONE compacted content_sha index table maintained alongside the
      commit markers (`dedup_against_index`) — each epoch appends
      its survivors' hashes as a deterministically-named index file
      before its marker, and every _INDEX_COMPACT_EVERY epochs the
      loose files fold into a bucketed compact generation. Per-batch
      dedup I/O is therefore O(index), never O(B) committed-batch
      directories, and the state lives on disk, so a
      crashed-and-replayed epoch is a no-op and state survives
      driver restarts;
    * when the AvailableNow run drains, the union of committed
      survivors is audited (every content hash unique) and published
      as ONE atomic version (`publish_epochs`) — readers never see a
      half-deduped corpus.

    Because batches ascend in doc_id, keep-first-across-batches
    equals keep-min-doc_id globally — the sequential streaming fold
    collapses to an order-free rule a SQL oracle can state directly.

    ``work_dir`` makes the ingest RESTARTABLE (see run_stream):
    restarting after any crash reprocesses nothing and publishes the
    identical survivor set. ``stage_dir`` is optionally the
    session-persistent pre-staged epoch directory
    (store/staging.py EPOCHS), caller-owned.

    Scale: per-batch work is one bounded window + one anti-join
    against the bucketed hash index (the incremental_exact_dedup
    shape from queries/corpus_stats.py, kept compacted so read cost
    stays flat over the stream's life); the publish is an O(1)
    pointer swap.
    """

    def audit_unique(df: DataFrame) -> None:
        n, d = df.agg(F.count("*"), F.countDistinct("content_sha")).first()
        assert n == d, f"duplicate content published: {n} rows, {d} hashes"

    return run_stream(
        spark,
        epoch_source(
            spark, sf_dir, "documents", "doc_id", n_batches, stage_dir,
            lambda df: df.select(
                "doc_id", F.sha2(F.col("text"), 256).alias("content_sha")
            ),
        ),
        EpochSink(
            dedup_against_index,
            publish_epochs(
                spark, table_root, audit_unique, "streaming dedup ingest"
            ),
        ),
        state_partitions=4,
        work_dir=work_dir,
    )


# ---- streaming index and checksum maintenance --------------------------


def run_stream_vector_index(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    n_cells: int = 16,
    iters: int = 2,
    n_batches: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming IVF vector-index maintenance: new embedding vectors
    arrive in micro-batches and are assigned to their coarse cell
    ONLINE against a pre-trained quantizer (the production split:
    the k-means model trains offline — store/staging.py's staged
    IVF fixture here — while ingestion is a narrow per-batch
    projection with literal centroids, no training in the hot
    path). Each epoch writes its (vec_id, cell) rows as a
    cell-partitioned parquet index under an epoch-idempotent commit
    marker, so a replayed batch is a no-op and a restart resumes —
    the streamed index provably equals the batch-built one.

    Returns the final index assignment (vec_id, cell). ``work_dir``
    is caller-owned (pass the same one to resume/restart);
    ``stage_dir`` optionally a pre-staged epoch directory.

    100 TB: per-batch work is one literal-centroid projection + an
    append of that batch's rows into its cell partitions; the cell
    layout is exactly what ivf_topk's probe join prunes on, so the
    index is queryable mid-stream with no rebuild."""
    from gerrydb_etl_spark.operators.kmeans import assign, quantize
    from gerrydb_etl_spark.operators.partitioning import fan_out

    _, centroids = IVF.read(spark, sf_dir, n_cells, iters)

    def write(batch_df: DataFrame, dest: str, batch_id: int) -> None:
        # fan the epoch's rows out to cluster parallelism before the
        # compute-heavy narrow assign: a micro-batch delivered as ONE
        # file otherwise runs the literal-centroid fold on the file's
        # few natural splits regardless of core count — the measured
        # x10 slope driver (SCALE_r15 3.15x; VERDICT r15 item 5). At
        # production scale an epoch spans many files and fan_out
        # no-ops (same gate as the batch training paths). The
        # repartition("cell") BETWEEN compute and write matters as
        # much: the fold runs on the fanned partitions map-side, then
        # one exchange compacts each cell into one writer task —
        # without it every fanned partition opens a file per cell it
        # touches (32 x cells small files per epoch; measured 27.7s
        # vs 7.5s at the x10 point, a 5.01x slope from file-commit
        # overhead alone).
        assigned = (
            assign(quantize(fan_out(batch_df)), centroids)
            .select("vec_id", F.col("cluster_id").alias("cell"))
            .repartition("cell")
        )
        assigned.write.mode("overwrite").partitionBy("cell").parquet(dest)

    return run_stream(
        spark,
        epoch_source(spark, sf_dir, "embeddings", "vec_id", n_batches, stage_dir),
        EpochSink(write, lambda committed: _union_epochs(spark, committed)),
        state_partitions=4,
        work_dir=work_dir,
    )


def run_stream_checksum(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    digest: Callable[[DataFrame], DataFrame],
    n_batches: int = 4,
    stage_dir: str | None = None,
) -> DataFrame:
    """Streaming anti-entropy checksum maintenance: order rows arrive
    in micro-batches; each epoch reduces ITS rows to per-bucket
    (n, xor-of-row-signature) partials via ``digest`` and commits
    them under an epoch-idempotent marker (replayed batch = no-op,
    restart resumes). The running table state is the bucket-wise
    merge of all committed partials — XOR and COUNT are the
    mergeable-sketch pair that makes the checksum INCREMENTALLY
    maintainable, which is the property bucket_checksum_diff's
    docstring claims and this stream proves: the merged streamed
    checksums must equal the batch-computed ones bit for bit.

    100 TB: per-epoch work is one narrow map + a buckets-sized
    partial aggregate; the merge reads O(epochs x buckets) partial
    rows, never any data row twice. A production deployment compacts
    partials exactly like _compact_index compacts the dedup index.

    Each trigger delivers one whole staged epoch, however many files
    it spans (read_epoch_stream). ``work_dir`` is caller-owned (pass
    the same one to resume/restart); ``stage_dir`` optionally a
    pre-staged epoch directory (store/staging.py EPOCHS), whose
    staging writes are then skipped entirely."""
    from gerrydb_etl_spark.operators.partitioning import fan_out

    def write(batch_df: DataFrame, dest: str, batch_id: int) -> None:
        # fan the epoch's rows out to cluster parallelism before the
        # compute-heavy narrow digest (the portable per-char row-
        # signature fold): a micro-batch delivered as ONE file
        # otherwise folds on the file's few natural splits regardless
        # of core count — the measured x10 slope driver (SCALE_r15
        # 4.18x; VERDICT r15 item 5). Values unaffected: the digest
        # pair (COUNT, XOR) is combine-order-free by construction. At
        # production scale an epoch spans many files and fan_out
        # no-ops.
        digest(fan_out(batch_df)).write.mode("overwrite").parquet(dest)

    def merge(committed: list[str]) -> DataFrame:
        return (
            _union_epochs(spark, committed)
            .groupBy("bucket")
            .agg(
                F.sum("n").cast("long").alias("n_rows"),
                F.expr("bit_xor(x)").alias("checksum"),
            )
        )

    return run_stream(
        spark,
        epoch_source(spark, sf_dir, "orders", "o_orderkey", n_batches, stage_dir),
        EpochSink(write, merge),
        state_partitions=4,
        work_dir=work_dir,
    )
