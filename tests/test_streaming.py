"""Structured Streaming parity tests: the streaming engine over the
same events data must reproduce the batch window results, and the
stateful operator must match a batch aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.wap import VersionedTable
from gerrydb_etl_spark.streaming.stream import (
    EpochSink,
    LastEpochSink,
    MemorySink,
    events_source,
    run_stream,
)
from gerrydb_etl_spark.streaming.windows import tumbling
from tests.conftest import SF_SMOKE, session_jobs


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _hourly(df):
    return tumbling(df.withWatermark("ts", "1 hour"), "1 hour")


def test_stream_tumbling_matches_batch(spark):
    batch = tumbling(load_table(spark, SF_SMOKE, "events"), "1 hour")
    stream = run_stream(
        spark, events_source(spark, SF_SMOKE, _hourly), MemorySink("complete")
    )
    cols = ["window_start", "window_end", "event_type", "n", "total"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stream_session_windows_match_batch(spark):
    from gerrydb_etl_spark.streaming.windows import session

    batch = session(load_table(spark, SF_SMOKE, "events"), "10 minutes")
    stream = run_stream(
        spark,
        events_source(
            spark, SF_SMOKE,
            lambda df: session(df.withWatermark("ts", "1 hour"), "10 minutes"),
        ),
        MemorySink("complete"),
    )
    cols = ["session_start", "session_end", "user_id", "n_events", "total"]
    assert _rows(stream, cols) == _rows(batch, cols)


def test_stateful_running_cents_exact_on_adversarial_floats(spark, tmp_path):
    """The integer-cents state must be immune to float summation
    order: many 0.01-style values whose double sum is inexact
    (sum of 0.01 x 300 = 2.9999999999999996 in float) must come out
    as exactly 300 cents per 100 events."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gerrydb_etl_spark.queries.events import events_stream_user_totals

    n = 300
    pdf = pd.DataFrame(
        {
            "event_id": range(n),
            "ts": [1_700_000_000_000_000_000 + i * 10**9 for i in range(n)],
            "user_id": [i % 3 for i in range(n)],
            "event_type": ["t"] * n,
            "value": [0.01] * n,
            "props": ["{}"] * n,
        }
    )
    pq.write_table(pa.Table.from_pandas(pdf), str(tmp_path / "events.parquet"))
    got = {
        r["user_id"]: (r["n_events"], r["total_cents"])
        for r in events_stream_user_totals(spark, str(tmp_path)).collect()
    }
    assert got == {0: (100, 100), 1: (100, 100), 2: (100, 100)}


def test_dedup_stream_collapses_duplicated_input(spark, tmp_path):
    """events_stream_dedup's claim is only meaningful if the staged
    source really delivers every event twice — assert the 2x via a
    batch read of the same staged dir, then that the chained
    dedup+agg equals the batch aggregation over the SINGLE copy,
    restricted to watermark-closed windows (append mode emits only
    windows ending at or before max(ts) - delay)."""
    import datetime

    from gerrydb_etl_spark.queries.events import events_stream_dedup
    from gerrydb_etl_spark.streaming.stream import stage_events

    single = load_table(spark, SF_SMOKE, "events")
    n_single = single.count()

    stage = stage_events(SF_SMOKE, str(tmp_path / "stage"), copies=2)
    n_staged = spark.read.parquet(stage).count()
    assert n_staged == 2 * n_single

    deduped = events_stream_dedup(spark, SF_SMOKE)
    max_ts = single.agg(F.max("ts").alias("m")).collect()[0]["m"]
    horizon = (max_ts - datetime.timedelta(hours=1)).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )
    closed = tumbling(single, "1 hour").filter(
        F.col("window_end") <= F.lit(horizon)
    )
    cols = ["window_start", "window_end", "event_type", "n", "total"]
    assert _rows(deduped, cols) == _rows(closed, cols)


def test_dedup_state_carries_across_micro_batches(spark):
    """Airtight cross-batch state proof: maxFilesPerTrigger=1 puts
    the two staged copies in SEPARATE micro-batches, and a watermark
    far longer than the data span (40 days vs 30) means nothing is
    ever late — so the only mechanism that can drop batch 2's copies
    is dedup state persisted from batch 1. Dedup-only pipeline
    (append mode emits deduped rows immediately, no window closure
    needed); output ids must equal the single-copy id set."""
    single = load_table(spark, SF_SMOKE, "events")
    want = sorted(r["event_id"] for r in single.select("event_id").collect())

    def dedup(stream):
        return (
            stream.withWatermark("ts", "40 days")
            .dropDuplicatesWithinWatermark(["event_id"])
            .select("event_id")
        )

    deduped = run_stream(
        spark,
        events_source(spark, SF_SMOKE, dedup, copies=2, max_files_per_trigger=1),
        MemorySink("append"),
    )
    got = sorted(r["event_id"] for r in deduped.collect())
    assert got == want


def test_stream_stream_join_matches_batch_interval_join(spark):
    """The streaming click->view attribution join must emit exactly
    the batch interval join's rows (availableNow processes the
    bounded input before any watermark can expire state)."""
    from gerrydb_etl_spark.queries.events import events_stream_join_attribution

    streamed = events_stream_join_attribution(spark, SF_SMOKE)
    ev = load_table(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"),
        F.col("user_id"),
        F.col("ts").alias("view_ts"),
    )
    batch = (
        clicks.join(views, "user_id")
        .filter(
            (F.col("view_ts") >= F.col("click_ts"))
            & (F.col("view_ts") <= F.col("click_ts") + F.expr("INTERVAL 4 hours"))
        )
        .select(
            "click_id",
            "view_id",
            "user_id",
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("view_ts").alias("view_us"),
            (F.unix_micros("view_ts") - F.unix_micros("click_ts")).alias("lag_us"),
        )
    )
    assert sorted(map(tuple, streamed.collect())) == sorted(map(tuple, batch.collect()))


def test_stream_to_versioned_store_exactly_once(spark, tmp_path):
    """foreachBatch ingest into the versioned store: multiple
    micro-batches (maxFilesPerTrigger bounds each), batch-id
    idempotence on replay, one atomic publish whose row count
    reconciles with the source."""
    from gerrydb_etl_spark.streaming.stream import run_stream_to_versioned_store
    from gerrydb_etl_spark.store.wap import VersionedTable

    root = str(tmp_path / "events_store")
    out = run_stream_to_versioned_store(spark, SF_SMOKE, root)
    n_src = spark.read.parquet(SF_SMOKE + "/events.parquet").count()
    assert out["batches"] >= 1

    table = VersionedTable(spark, root)
    assert table.current_version() == out["version"]
    assert table.read().count() == n_src
    # distinct event ids == rows: nothing was double-ingested
    assert table.read().select("event_id").distinct().count() == n_src


def test_stream_store_sink_is_idempotent_on_replayed_epoch(spark, tmp_path):
    """Calling the batch sink twice with the same epoch id (what a
    post-write/pre-checkpoint crash causes) must not duplicate rows:
    the commit marker makes the second call a no-op."""
    import os
    from gerrydb_etl_spark.streaming.stream import epoch_sink

    batches_root = str(tmp_path / "batches")
    os.makedirs(batches_root)
    df = spark.range(0, 10).toDF("event_id")
    sink = epoch_sink(batches_root)

    sink(df, 0)
    first = spark.read.parquet(os.path.join(batches_root, "b_000000")).count()
    sink(spark.range(0, 99).toDF("event_id"), 0)  # replay: ignored
    again = spark.read.parquet(os.path.join(batches_root, "b_000000")).count()
    assert first == again == 10


def test_docs_dedup_ingest_is_deterministic_and_unique(spark, tmp_path):
    """Two independent streaming runs publish identical survivor
    sets (deterministic batching + keep-first), and no content hash
    appears twice in a published version (the audit contract)."""
    from gerrydb_etl_spark.store.wap import VersionedTable
    from gerrydb_etl_spark.streaming.stream import run_docs_dedup_ingest
    from tests.conftest import SF_SMOKE

    results = []
    for sub in ("a", "b"):
        root = str(tmp_path / sub)
        out = run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=3)
        assert out["batches"] == 3
        rows = {
            (r.doc_id, r.content_sha)
            for r in VersionedTable(spark, root).read().collect()
        }
        results.append(rows)
    assert results[0] == results[1]
    shas = [s for _, s in results[0]]
    assert len(shas) == len(set(shas))


def test_docs_dedup_ingest_restart_reprocesses_nothing(spark, tmp_path):
    """Exactly-once across restarts: a second run with the SAME
    caller-owned work_dir resumes from the stream checkpoint — the
    already-processed source files are not redelivered, the commit
    markers make any replayed epoch a no-op, and the re-publish
    contains the identical survivor set with every content hash
    still unique."""
    import os

    from gerrydb_etl_spark.store.wap import VersionedTable
    from gerrydb_etl_spark.streaming.stream import run_docs_dedup_ingest
    from tests.conftest import SF_SMOKE

    root = str(tmp_path / "store")
    work = str(tmp_path / "work")
    out1 = run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=3, work_dir=work)
    rows1 = {
        (r.doc_id, r.content_sha)
        for r in VersionedTable(spark, root).read().collect()
    }
    markers1 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    # restart: same work_dir -> checkpoint + markers carry the state
    out2 = run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=3, work_dir=work)
    markers2 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    assert markers2 == markers1, "restart must not create new epochs"
    assert out2["batches"] == out1["batches"] == 3
    rows2 = {
        (r.doc_id, r.content_sha)
        for r in VersionedTable(spark, root).read().collect()
    }
    assert rows2 == rows1
    shas = [s for _, s in rows2]
    assert len(shas) == len(set(shas))

def _sha_batch(spark, rows):
    """(doc_id, content_sha) batch frame shaped like the dedup sink's
    streaming input."""
    return spark.createDataFrame(rows, "doc_id long, content_sha string")


def test_docs_dedup_state_is_the_index_not_batch_dirs(spark, tmp_path):
    """Per-batch dedup reads touch the compacted
    content_sha index table, NOT the committed batch directories —
    proven by deleting every prior batch dir before the next epoch
    and observing cross-batch dedup still happen."""
    import os
    import shutil

    from gerrydb_etl_spark.streaming.stream import dedup_against_index, epoch_sink

    batches_root = str(tmp_path / "batches")
    index_root = str(tmp_path / "index")
    os.makedirs(batches_root)
    os.makedirs(index_root)
    sink = epoch_sink(batches_root, dedup_against_index)

    sink(_sha_batch(spark, [(1, "A"), (2, "B"), (3, "A")]), 0)
    b0 = os.path.join(batches_root, "b_000000")
    got0 = {(r.doc_id, r.content_sha) for r in spark.read.parquet(b0).collect()}
    assert got0 == {(1, "A"), (2, "B")}

    # committed batch data is gone (cold storage / other cluster) —
    # only the index remains as dedup state
    shutil.rmtree(b0)
    sink(_sha_batch(spark, [(4, "A"), (5, "C")]), 1)
    b1 = os.path.join(batches_root, "b_000001")
    got1 = {(r.doc_id, r.content_sha) for r in spark.read.parquet(b1).collect()}
    assert got1 == {(5, "C")}, "duplicate of epoch-0 content must be dropped"


def test_docs_dedup_replay_does_not_self_anti_join(spark, tmp_path):
    """Crash after the index contribution was linked but before the
    commit marker: the replayed epoch must exclude its OWN loose
    index files from the prior-state read, or it would anti-join the
    batch against itself and publish nothing."""
    import os
    import shutil

    from gerrydb_etl_spark.streaming.stream import dedup_against_index, epoch_sink

    batches_root = str(tmp_path / "batches")
    index_root = str(tmp_path / "index")
    os.makedirs(batches_root)
    os.makedirs(index_root)
    sink = epoch_sink(batches_root, dedup_against_index)

    sink(_sha_batch(spark, [(1, "A")]), 0)
    sink(_sha_batch(spark, [(2, "B"), (3, "C")]), 1)
    # simulate the crash: epoch 1's marker and batch dir are lost,
    # but its e_000001_* index links survived
    os.unlink(os.path.join(batches_root, "b_000001.committed"))
    shutil.rmtree(os.path.join(batches_root, "b_000001"))
    assert any(n.startswith("e_000001_") for n in os.listdir(index_root))

    sink(_sha_batch(spark, [(2, "B"), (3, "C")]), 1)  # replay
    b1 = os.path.join(batches_root, "b_000001")
    got = {(r.doc_id, r.content_sha) for r in spark.read.parquet(b1).collect()}
    assert got == {(2, "B"), (3, "C")}, "replay must not drop its own batch"


def test_docs_dedup_index_compacts_to_bounded_file_count(spark, tmp_path):
    """After many epochs the index folds into a bucketed compact
    generation: loose per-epoch files stay below the compaction
    threshold + 1 and the index still holds every survivor hash
    exactly once per compact generation."""
    import os

    from gerrydb_etl_spark.streaming.stream import (
        _INDEX_COMPACT_EVERY,
        dedup_against_index,
        epoch_sink,
    )

    batches_root = str(tmp_path / "batches")
    index_root = str(tmp_path / "index")
    os.makedirs(batches_root)
    os.makedirs(index_root)
    sink = epoch_sink(batches_root, dedup_against_index)

    n_epochs = 2 * _INDEX_COMPACT_EVERY + 1
    for i in range(n_epochs):
        sink(_sha_batch(spark, [(i, f"H{i}"), (1000 + i, f"H{i // 2}")]), i)

    names = sorted(os.listdir(index_root))
    loose = [n for n in names if n.startswith("e_")]
    compact = [n for n in names if n.startswith("c_")]
    assert compact, "compaction never triggered"
    assert len(loose) <= _INDEX_COMPACT_EVERY, (
        f"loose index files unbounded: {loose}"
    )
    indexed = {
        r.content_sha
        for r in spark.read.parquet(
            *[os.path.join(index_root, n) for n in names]
        ).collect()
    }
    survivors = {
        r.content_sha
        for r in spark.read.parquet(
            *[
                os.path.join(batches_root, m[: -len(".committed")])
                for m in os.listdir(batches_root)
                if m.endswith(".committed")
            ]
        ).collect()
    }
    assert indexed == survivors == {f"H{i}" for i in range(n_epochs)}


def test_docs_dedup_compacts_every_n_epochs_with_multi_file_epochs(
    spark, tmp_path
):
    """An epoch whose survivors land in several part files links
    several loose index files; compaction still counts epochs, so it
    runs every _INDEX_COMPACT_EVERY epochs (not every epoch) and at
    most that many epochs stay loose."""
    from gerrydb_etl_spark.streaming.stream import (
        _INDEX_COMPACT_EVERY,
        _loose_prefix,
        dedup_against_index,
        epoch_sink,
    )

    batches_root = str(tmp_path / "batches")
    index_root = str(tmp_path / "index")
    os.makedirs(batches_root)
    sink = epoch_sink(batches_root, dedup_against_index)
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    saved = spark.conf.get(conf)
    spark.conf.set(conf, "false")  # keep the window's shuffle partitions
    n_epochs = 2 * _INDEX_COMPACT_EVERY + 1
    compacted_at = set()
    try:
        for i in range(n_epochs):
            rows = [(100 * i + j, f"H{i}_{j}") for j in range(32)]
            sink(_sha_batch(spark, rows), i)
            names = os.listdir(index_root)
            own = [n for n in names if n.startswith(_loose_prefix(i))]
            assert len(own) > 1, "precondition: several part files per epoch"
            if any(n.startswith(f"c_{i:06d}_") for n in names):
                compacted_at.add(i)
            loose_epochs = {
                n[: len(_loose_prefix(0))] for n in names if n.startswith("e_")
            }
            assert len(loose_epochs) <= _INDEX_COMPACT_EVERY
    finally:
        spark.conf.set(conf, saved)

    assert compacted_at == {_INDEX_COMPACT_EVERY, 2 * _INDEX_COMPACT_EVERY}
    indexed = spark.read.schema("content_sha string").parquet(index_root)
    assert indexed.distinct().count() == 32 * n_epochs


def test_docs_dedup_epochs_and_publish_run_only_their_jobs(spark, tmp_path):
    """The dedup ingest's Spark jobs all do new work: no directory
    the stream wrote is read through a schema-inference job, neither
    the index contribution nor the version rewrites a row (both are
    links), and the uniqueness audit shuffles once. Epoch 0: the
    survivors' write (the window's shuffle map stage and the write);
    epoch 1 adds the index broadcast for the anti-join; the publish
    is the audit's two jobs."""
    from gerrydb_etl_spark.streaming.stream import (
        audit_unique,
        committed_epochs,
        dedup_against_index,
        epoch_sink,
        publish_epochs,
    )

    batches_root = str(tmp_path / "batches")
    os.makedirs(batches_root)
    sink = epoch_sink(batches_root, dedup_against_index)
    b0 = _sha_batch(spark, [(1, "A"), (2, "B"), (3, "A")])
    b1 = _sha_batch(spark, [(4, "A"), (5, "C")])
    _, jobs0 = session_jobs(spark, lambda: sink(b0, 0))
    _, jobs1 = session_jobs(spark, lambda: sink(b1, 1))
    root = str(tmp_path / "store")
    finish = publish_epochs(spark, root, audit_unique, "job count")
    out, jobs_publish = session_jobs(
        spark, lambda: finish(committed_epochs(batches_root))
    )
    assert (jobs0, jobs1, jobs_publish) == (2, 3, 2)
    assert out["batches"] == 2
    got = {tuple(r) for r in VersionedTable(spark, root).read().collect()}
    assert got == {(1, "A"), (2, "B"), (5, "C")}


def test_docs_dedup_audit_rejects_duplicates_and_publishes_nothing(
    spark, tmp_path
):
    """Two committed epochs that share a content hash fail the
    uniqueness audit: the error names the hash and no version is
    published."""
    from gerrydb_etl_spark.store.wap import AuditError
    from gerrydb_etl_spark.streaming.stream import (
        audit_unique,
        committed_epochs,
        epoch_sink,
        publish_epochs,
    )

    batches_root = str(tmp_path / "batches")
    os.makedirs(batches_root)
    sink = epoch_sink(batches_root)
    sink(_sha_batch(spark, [(1, "A"), (2, "B")]), 0)
    sink(_sha_batch(spark, [(3, "A"), (4, "C")]), 1)
    root = str(tmp_path / "store")
    finish = publish_epochs(spark, root, audit_unique, "duplicated")
    with pytest.raises(AuditError, match=r"duplicate content published: \['A'\]"):
        finish(committed_epochs(batches_root))
    assert not os.path.exists(os.path.join(root, "_CURRENT"))
    assert VersionedTable(spark, root).current_version() is None


def _inodes(files):
    return {os.stat(f).st_ino for f in files}


def _committed_files(batches_root):
    from gerrydb_etl_spark.store.wap import _data_files
    from gerrydb_etl_spark.streaming.stream import committed_epochs

    return [f for d in committed_epochs(batches_root) for f in _data_files(d)]


def test_docs_dedup_publish_links_committed_epochs(spark, tmp_path):
    """The published version is the committed epochs' own files:
    every version file shares its inode with a committed epoch file,
    one for one, so the publish wrote no data file."""
    from gerrydb_etl_spark.store.wap import _data_files
    from gerrydb_etl_spark.streaming.stream import run_docs_dedup_ingest

    root, work = str(tmp_path / "store"), str(tmp_path / "work")
    run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=3, work_dir=work)
    committed = _committed_files(os.path.join(work, "batches"))
    table = VersionedTable(spark, root)
    version_files = _data_files(os.path.join(root, table.current_version()))
    assert len(version_files) == len(committed)
    assert _inodes(version_files) == _inodes(committed)


def test_linked_version_outlives_work_dir_and_older_version(spark, tmp_path):
    """A restart republishes the same committed epochs as a second
    version, so two versions share the epoch files. Once the stream's
    work dir and the older version are deleted, the newest version
    still reads the same rows, in Spark and as a self-contained
    dataset in pyarrow."""
    import shutil

    import pyarrow.parquet as pq

    from gerrydb_etl_spark.streaming.stream import run_docs_dedup_ingest

    root, work = str(tmp_path / "store"), str(tmp_path / "work")
    table = VersionedTable(spark, root)
    run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=2, work_dir=work)
    older = table.current_version()
    rows = sorted(tuple(r) for r in table.read().collect())
    run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=2, work_dir=work)
    newest = table.current_version()
    assert newest != older

    shutil.rmtree(work)
    shutil.rmtree(os.path.join(root, older))
    assert sorted(tuple(r) for r in table.read().collect()) == rows
    arrow = pq.read_table(os.path.join(root, newest))
    assert sorted(zip(*arrow.to_pydict().values())) == rows
    assert table.meta()["rows"] == len(rows)


def test_publish_copies_where_links_are_refused(spark, tmp_path, monkeypatch):
    """With hard links refused (another device), the publish falls
    back to copies: the rows are identical, and no version file
    shares an inode with an epoch file."""
    import errno

    from gerrydb_etl_spark.store.wap import _data_files
    from gerrydb_etl_spark.streaming.stream import (
        audit_unique,
        committed_epochs,
        epoch_sink,
        publish_epochs,
    )

    batches_root = str(tmp_path / "batches")
    os.makedirs(batches_root)
    sink = epoch_sink(batches_root)
    sink(_sha_batch(spark, [(1, "A"), (2, "B")]), 0)
    sink(_sha_batch(spark, [(3, "C")]), 1)

    def refuse(src, dst, *args, **kwargs):
        raise OSError(errno.EXDEV, "Invalid cross-device link", src)

    monkeypatch.setattr(os, "link", refuse)
    root = str(tmp_path / "store")
    finish = publish_epochs(spark, root, audit_unique, "copied")
    out = finish(committed_epochs(batches_root))
    version_files = _data_files(os.path.join(root, out["version"]))
    assert not _inodes(version_files) & _inodes(_committed_files(batches_root))
    got = {tuple(r) for r in VersionedTable(spark, root).read().collect()}
    assert got == {(1, "A"), (2, "B"), (3, "C")}


def test_docs_dedup_op_runs_eight_jobs(spark):
    """The whole docs_stream_dedup_ingest op, counted across every
    thread (the micro-batches run on the stream's own): 2 + 3 epoch
    jobs, the audit's 2 and the noop write's 1. The result is a lazy
    read of the published version, not a pinned copy."""
    from gerrydb_etl_spark.queries.events import docs_stream_dedup_ingest

    def op():
        docs_stream_dedup_ingest(spark, SF_SMOKE).write.format("noop").mode(
            "overwrite"
        ).save()

    op()  # stages the EPOCHS fixture
    _, jobs = session_jobs(spark, op)
    assert jobs == 8


def test_ingest_store_is_process_scratch_and_failure_leaves_nothing(spark):
    """The ingest heads' stores live under one per-process root in the
    system temp directory (removed at exit, never in the warehouse);
    an ingest that fails removes its own store directory at once."""
    import tempfile

    from gerrydb_etl_spark.queries import events

    def fail(root):
        open(os.path.join(root, "partial.parquet"), "w").close()
        raise RuntimeError("ingest failed")

    with pytest.raises(RuntimeError, match="ingest failed"):
        events._ingest_store(spark, "failing_", fail)
    assert os.path.dirname(events._STORE_ROOT) == tempfile.gettempdir()
    assert not any(n.startswith("failing_") for n in os.listdir(events._STORE_ROOT))


def test_footer_schema_equals_inferred_schema(spark, tmp_path):
    """For the directories the stream writes, the footer schema is
    the one spark.read.parquet infers, nullability included: the
    dedup ingest's committed epochs and the version publish_epochs
    wrote from them, the complete-mode aggregate's last epoch (its
    count column is written non-nullable) that LastEpochSink
    returns, and a partitioned directory, whose partition column
    Spark's discovery adds."""
    import pyarrow.parquet as pq

    from gerrydb_etl_spark.store.wap import SPARK_SCHEMA_KEY, _data_files, footer_schema
    from gerrydb_etl_spark.streaming.stream import (
        committed_epochs,
        run_docs_dedup_ingest,
    )

    root, work = str(tmp_path / "store"), str(tmp_path / "docs")
    run_docs_dedup_ingest(spark, SF_SMOKE, root, n_batches=2, work_dir=work)
    committed = committed_epochs(os.path.join(work, "batches"))
    for d in committed:
        assert footer_schema(d) == spark.read.parquet(d).schema
    assert footer_schema(committed[0]) == spark.read.parquet(*committed).schema
    table = VersionedTable(spark, root)
    version_dir = os.path.join(root, table.current_version())
    assert table.read().schema == spark.read.parquet(version_dir).schema

    work = str(tmp_path / "hourly")
    result = run_stream(
        spark,
        events_source(spark, SF_SMOKE, _hourly),
        LastEpochSink("complete"),
        state_partitions=4,
        work_dir=work,
    )
    last = committed_epochs(os.path.join(work, "batches"))[-1]
    footer = pq.read_metadata(_data_files(last)[0]).metadata[SPARK_SCHEMA_KEY]
    assert b'"nullable":false' in footer
    inferred = spark.read.parquet(last).schema
    assert footer_schema(last) == result.schema == inferred

    part = str(tmp_path / "partitioned")
    spark.range(10).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(part)
    assert footer_schema(part) == spark.read.parquet(part).drop("k").schema
    read = spark.read.schema(footer_schema(part)).parquet(part)
    assert read.schema == spark.read.parquet(part).schema


def test_stream_vector_index_restart_is_idempotent(spark, tmp_path):
    """Streaming IVF index maintenance: the streamed index equals
    the batch assignment, and a second run with the SAME work_dir
    resumes from the checkpoint — no new epochs, identical index
    rows, every vec_id exactly once."""
    import os

    from gerrydb_etl_spark.operators.kmeans import assign, quantize
    from gerrydb_etl_spark.store.staging import IVF
    from gerrydb_etl_spark.streaming.stream import run_stream_vector_index
    from tests.conftest import SF_SMOKE

    work = str(tmp_path / "work")
    os.makedirs(work)
    out1 = run_stream_vector_index(spark, SF_SMOKE, work, n_batches=3)
    rows1 = {(r.vec_id, r.cell) for r in out1.collect()}
    markers1 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    assert len(markers1) == 3

    out2 = run_stream_vector_index(spark, SF_SMOKE, work, n_batches=3)
    markers2 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    assert markers2 == markers1, "restart must not create new epochs"
    rows2 = {(r.vec_id, r.cell) for r in out2.collect()}
    assert rows2 == rows1
    ids = [v for v, _ in rows2]
    assert len(ids) == len(set(ids))

    # streamed index == batch-built index (same staged quantizer)
    assigned, centroids = IVF.read(spark, SF_SMOKE, 16, 2)
    from gerrydb_etl_spark.sources.registry import load_table

    batch = {
        (r.vec_id, r.cluster_id)
        for r in assign(
            quantize(load_table(spark, SF_SMOKE, "embeddings")), centroids
        ).collect()
    }
    assert rows2 == batch


def test_stream_checksum_restart_is_idempotent(spark, tmp_path):
    """Streaming checksum maintenance across restarts: a second run
    with the SAME work_dir replays committed epochs as no-ops (no
    new markers), and the merged streamed checksums equal the
    batch-computed per-bucket (count, xor) pairs exactly."""
    import os

    from pyspark.sql import functions as F

    from gerrydb_etl_spark.queries.store_queries import (
        bucket_digest,
        order_cents,
    )
    from gerrydb_etl_spark.sources.registry import load_table
    from gerrydb_etl_spark.streaming.stream import run_stream_checksum
    from tests.conftest import SF_SMOKE

    def digest(b):
        return bucket_digest(b, order_cents(F.col("o_totalprice")), "n", "x")

    work = str(tmp_path / "work")
    os.makedirs(work)
    out1 = run_stream_checksum(spark, SF_SMOKE, work, digest, n_batches=3)
    rows1 = {(r.bucket, r.n_rows, r.checksum) for r in out1.collect()}
    markers1 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    assert len(markers1) == 3

    out2 = run_stream_checksum(spark, SF_SMOKE, work, digest, n_batches=3)
    markers2 = sorted(
        m for m in os.listdir(os.path.join(work, "batches"))
        if m.endswith(".committed")
    )
    assert markers2 == markers1, "restart must not create new epochs"
    assert {(r.bucket, r.n_rows, r.checksum) for r in out2.collect()} == rows1

    # streamed == batch-computed (the mergeability property)
    batch = {
        (r.bucket, r.n, r.x)
        for r in bucket_digest(
            load_table(spark, SF_SMOKE, "orders"),
            order_cents(F.col("o_totalprice")),
            "n",
            "x",
        ).collect()
    }
    assert rows1 == batch


def test_stream_checksum_delivers_one_staged_epoch_per_trigger(spark, tmp_path):
    """A staged epoch spanning several files is ONE micro-batch: the
    epoch reader takes maxFilesPerTrigger from the staged layout
    (files of epoch 0), not from a size-derived guess — at smoke
    scale that guess is 1 file, which would split each 2-file epoch
    into two micro-batches."""
    import shutil

    from gerrydb_etl_spark.queries.store_queries import (
        bucket_digest,
        order_cents,
    )
    from gerrydb_etl_spark.streaming.stream import (
        _stage_key_range_batches,
        run_stream_checksum,
    )

    def digest(b):
        return bucket_digest(b, order_cents(F.col("o_totalprice")), "n", "x")

    stage = _stage_key_range_batches(
        spark, SF_SMOKE, "orders", "o_orderkey", "orders",
        n_batches=2, files_per_batch=2,
    )
    work = str(tmp_path / "work")
    os.makedirs(work)
    try:
        out = run_stream_checksum(
            spark, SF_SMOKE, work, digest, n_batches=2, stage_dir=stage
        )
        rows = {(r.bucket, r.n_rows, r.checksum) for r in out.collect()}
    finally:
        shutil.rmtree(stage, ignore_errors=True)
    markers = [
        f for _, _, files in os.walk(work) for f in files
        if f.endswith(".committed")
    ]
    assert len(markers) == 2, markers
    batch = {
        (r.bucket, r.n, r.x)
        for r in digest(load_table(spark, SF_SMOKE, "orders")).collect()
    }
    assert rows == batch


def _raise_in_sink(*_):
    raise RuntimeError("sink failure")


_MANAGERS = "org.apache.spark.sql.execution.streaming.checkpointing."
_FILE_CONTEXT_MANAGER = _MANAGERS + "FileContextBasedCheckpointFileManager"


def _manager_class(spark, ckpt):
    """The simple class name of the checkpoint file manager Spark
    creates for ``ckpt`` under the session's current conf."""
    jvm = spark._jvm
    manager = getattr(jvm, _MANAGERS + "CheckpointFileManager").create(
        jvm.org.apache.hadoop.fs.Path(ckpt),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    return manager.getClass().getSimpleName()


@pytest.mark.parametrize(
    "kind, end",
    [(k, e) for k in ("memory", "files", "epoch") for e in ("ok", "raises")]
    + [("memory", "streamraises")],
)
def test_run_stream_restores_conf_and_removes_its_dirs(
    spark, tmp_path, monkeypatch, kind, end
):
    """Whatever the sink and however the run ends — normally, a
    memory drain that trips its row cap, a foreachBatch write that
    raises inside the stream, or a memory-sink query whose transform
    raises inside the stream — run_stream restores
    spark.sql.shuffle.partitions and the checkpoint-manager class (unset
    when the caller had not set it, the caller's value when it had) and
    leaves none of the directories it created, and no memory-sink
    table, behind."""
    import tempfile

    from gerrydb_etl_spark.streaming import stream as stream_mod

    key = stream_mod._CHECKPOINT_MANAGER_KEY
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    transform = (lambda df: df) if kind == "epoch" else _hourly
    if end == "streamraises":
        def transform(df):
            return _hourly(df).withColumn(
                "boom", F.raise_error(F.lit("sink failure"))
            )
    elif end == "raises" and kind == "memory":
        monkeypatch.setattr(stream_mod, "MEMSINK_MAX_ROWS", 0)
    source = events_source(spark, SF_SMOKE, transform)
    assert spark.conf.get(key, None) is None
    try:
        for caller_manager in (None, _FILE_CONTEXT_MANAGER):
            if caller_manager is not None:
                spark.conf.set(key, caller_manager)
            sink = {
                "memory": MemorySink("complete"),
                "files": LastEpochSink("complete"),
                "epoch": EpochSink(),
            }[kind]
            if end == "raises" and kind != "memory":
                sink.write = _raise_in_sink
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            if end == "ok":
                run_stream(spark, source, sink, state_partitions=3)
            else:
                with pytest.raises(Exception, match="sink failure|memory sink"):
                    run_stream(spark, source, sink, state_partitions=3)
            assert spark.conf.get("spark.sql.shuffle.partitions") == prev
            assert spark.conf.get(key, None) == caller_manager
            assert not [
                t.name
                for t in spark.catalog.listTables()
                if t.name.startswith("mem_")
            ]
            assert os.listdir(tmp_path) == []
    finally:
        spark.conf.unset(key)


def test_run_stream_checkpoints_through_the_filesystem_manager(spark, tmp_path):
    """During the run, Spark creates a FileSystemBasedCheckpointFileManager
    for the run's checkpoint, which starts no `readlink` process; the
    session default (FileContext-based) is back afterwards."""
    seen = []

    def source(stage):
        ckpt = os.path.join(os.path.dirname(stage), "ckpt")
        seen.append(_manager_class(spark, ckpt))
        return events_source(spark, SF_SMOKE, lambda df: df.select("event_id"))(stage)

    out = run_stream(
        spark,
        source,
        EpochSink(finish=len),
        work_dir=str(tmp_path / "work"),
    )
    assert out >= 1
    assert seen == ["FileSystemBasedCheckpointFileManager"]
    assert _manager_class(spark, str(tmp_path / "other")) == (
        "FileContextBasedCheckpointFileManager"
    )


def test_docs_dedup_resumes_a_checkpoint_written_by_the_file_context_manager(
    spark, tmp_path, monkeypatch
):
    """A work_dir whose first epoch was committed under Spark's
    FileContext-based checkpoint manager resumes under run_stream's
    own manager: the committed epoch is not reprocessed, the
    interrupted one is replayed, and the published survivors equal
    those of an uninterrupted run."""
    from gerrydb_etl_spark.streaming import stream as stream_mod

    root = str(tmp_path / "store")
    work = str(tmp_path / "work")
    batches = os.path.join(work, "batches")
    real_write = stream_mod.dedup_against_index
    delivered = []

    def write(batch_df, dest, batch_id):
        ckpt = os.path.join(work, "ckpt")
        delivered.append((batch_id, _manager_class(spark, ckpt)))
        if batch_id >= 1 and len(delivered) <= 2:  # the first run only
            raise RuntimeError("crash after the first epoch")
        real_write(batch_df, dest, batch_id)

    monkeypatch.setattr(stream_mod, "dedup_against_index", write)
    with monkeypatch.context() as m:
        m.setattr(stream_mod, "_CHECKPOINT_MANAGER", _FILE_CONTEXT_MANAGER)
        with pytest.raises(Exception, match="crash after the first epoch"):
            stream_mod.run_docs_dedup_ingest(
                spark, SF_SMOKE, root, n_batches=3, work_dir=work
            )
    first_marker = os.path.join(batches, "b_000000.committed")
    assert sorted(m for m in os.listdir(batches) if m.endswith(".committed")) == [
        "b_000000.committed"
    ]
    commits = os.listdir(os.path.join(work, "ckpt", "commits"))
    assert [c for c in commits if not c.endswith(".crc")] == ["0"]
    stamp = os.stat(first_marker).st_mtime_ns
    context = "FileContextBasedCheckpointFileManager"
    assert delivered == [(0, context), (1, context)]

    out = stream_mod.run_docs_dedup_ingest(
        spark, SF_SMOKE, root, n_batches=3, work_dir=work
    )
    fs = "FileSystemBasedCheckpointFileManager"
    assert delivered[2:] == [(1, fs), (2, fs)], "epoch 0 must not be redelivered"
    assert os.stat(first_marker).st_mtime_ns == stamp
    assert out["batches"] == 3
    resumed = {(r.doc_id, r.content_sha) for r in VersionedTable(spark, root).read().collect()}

    fresh_root = str(tmp_path / "fresh")
    monkeypatch.setattr(stream_mod, "dedup_against_index", real_write)
    stream_mod.run_docs_dedup_ingest(spark, SF_SMOKE, fresh_root, n_batches=3)
    fresh = {
        (r.doc_id, r.content_sha)
        for r in VersionedTable(spark, fresh_root).read().collect()
    }
    assert resumed == fresh
    shas = [s for _, s in resumed]
    assert len(shas) == len(set(shas))


def test_bucket_digest_injectable_signature(spark):
    """The production signature override (xxhash64 over the same
    'key|COALESCE(cents,-1)' row string the portable fold uses) must
    keep everything except the hash values: same buckets, same
    per-bucket counts, and the XOR-mergeability property (digest of
    the whole == bucket-wise merge of disjoint halves) — the
    docstring's promised swap, pinned so the no-registered-caller
    branch cannot rot. Also pins the NULL-cents identity: concat_ws
    SKIPS null args, so the COALESCE(-1) is load-bearing."""
    from gerrydb_etl_spark.queries.store_queries import (
        bucket_digest,
        order_cents,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    cents = order_cents(F.col("o_totalprice"))
    xx_sig = F.xxhash64(
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.coalesce(cents, F.lit(-1)).cast("string"),
        )
    )
    default = bucket_digest(orders, cents, "n", "x")
    injected = bucket_digest(orders, cents, "n", "x", sig=xx_sig)
    d = {(r.bucket, r.n) for r in default.collect()}
    i = {(r.bucket, r.n) for r in injected.collect()}
    assert d == i, "override changed bucketing or counts"

    # mergeability under the injected signature: whole == XOR-merge
    # of disjoint halves
    lo = orders.filter(F.col("o_orderkey") % 2 == 0)
    hi = orders.filter(F.col("o_orderkey") % 2 == 1)
    merged = {
        (r.bucket, r.n, r.x)
        for r in (
            bucket_digest(lo, cents, "n", "x", sig=xx_sig)
            .unionByName(bucket_digest(hi, cents, "n", "x", sig=xx_sig))
            .groupBy("bucket")
            .agg(
                F.sum("n").cast("long").alias("n"),
                F.expr("bit_xor(x)").alias("x"),
            )
            .collect()
        )
    }
    whole = {(r.bucket, r.n, r.x) for r in injected.collect()}
    assert merged == whole

    # NULL-cents identity: with cents NULL the row string must be
    # 'key|-1' (COALESCE), not 'key' (concat_ws null-skipping)
    one = orders.limit(1).select(
        "o_orderkey", F.lit(None).cast("double").alias("o_totalprice")
    )
    got = bucket_digest(
        one, order_cents(F.col("o_totalprice")), "n", "x",
        sig=F.xxhash64(
            F.concat_ws(
                "|",
                F.col("o_orderkey").cast("string"),
                F.coalesce(
                    order_cents(F.col("o_totalprice")), F.lit(-1)
                ).cast("string"),
            )
        ),
    ).collect()
    key = one.first()["o_orderkey"]
    want = spark.createDataFrame([(str(key) + "|-1",)], "s string").select(
        F.xxhash64("s").alias("h")
    ).first()["h"]
    assert got[0]["x"] == want


def test_file_sink_matches_memory_sink(spark):
    """LastEpochSink (foreachBatch parquet epochs, executor-side
    final pin) must be row-identical to the memory-sink route — the
    scale twin contract behind events_stream_file_sink."""
    source = events_source(spark, SF_SMOKE, _hourly)
    mem = run_stream(spark, source, MemorySink("complete"), state_partitions=4)
    files = run_stream(
        spark, source, LastEpochSink("complete"), state_partitions=4
    )
    assert sorted(map(tuple, mem.collect())) == sorted(
        map(tuple, files.collect())
    )
    assert [f.name for f in mem.schema] == [f.name for f in files.schema]


def test_memory_sink_cardinality_guard(spark):
    """The drain collect's 'bounded by state-store output' contract
    is enforced: past the cap the drain raises a named error that
    points at the file-sink scale path instead of OOMing the
    driver."""
    import pytest

    from gerrydb_etl_spark.streaming.stream import _drain_memory_sink

    name = "guard_probe_view"
    spark.range(100).createOrReplaceTempView(name)
    with pytest.raises(ValueError, match="LastEpochSink"):
        _drain_memory_sink(spark, name, max_rows=10)
    # the guard must still have dropped the sink view
    assert not any(
        t.name == name for t in spark.catalog.listTables()
    )

    spark.range(100).createOrReplaceTempView(name)
    ok = _drain_memory_sink(spark, name, max_rows=1000)
    assert ok.count() == 100


def test_staged_epoch_dir_is_session_scoped(spark):
    """The staged epoch directory is reused WITHIN a session (catalog
    hit: same path, files untouched) but never ACROSS processes: a
    leftover directory from a previous JVM — simulated by dropping
    the catalog entry, which leaves the registered directory's files
    in place — is removed and restaged from the parquet inputs, so
    no bench/driver run ever reads a prior run's staging work. File
    set and epoch mtime ORDERING are identical either way (the
    layout is a pure function of the source; mtimes are
    wall-clock-anchored, so only their order is contractual)."""
    import os

    from gerrydb_etl_spark.store.staging import EPOCHS

    args = (spark, SF_SMOKE, "orders", "o_orderkey", "orders_scopetest", 2)
    d1 = EPOCHS.read(*args, files_per_batch=1)
    listing1 = sorted(os.listdir(d1))
    inode1 = {f: os.stat(os.path.join(d1, f)).st_ino for f in listing1}

    # same session: catalog hit — same directory, same inodes (no
    # rewrite)
    d2 = EPOCHS.read(*args, files_per_batch=1)
    assert d2 == d1
    assert {f: os.stat(os.path.join(d2, f)).st_ino for f in listing1} == inode1

    # fresh process (catalog entry gone, files left behind): the
    # leftover dir is dropped and restaged
    spark.sql(f"DROP TABLE {os.path.basename(d1)}")
    assert sorted(os.listdir(d1)) == listing1
    # a sentinel left in the old directory proves the restage removed
    # it (comparing inodes does not: a filesystem may reuse the freed
    # ones for the rebuilt files)
    sentinel = os.path.join(d1, "leftover.sentinel")
    with open(sentinel, "w") as f:
        f.write("from a previous process")
    d3 = EPOCHS.read(*args, files_per_batch=1)
    assert d3 == d1
    assert not os.path.exists(sentinel)  # actually rebuilt, not reused
    listing3 = sorted(os.listdir(d3))
    assert listing3 == listing1
    # deterministic mtime ordering (epoch delivery order) reproduced:
    # sorting by (mtime, path) yields the epoch-ascending file order
    by_mtime = sorted(
        listing3, key=lambda f: (os.stat(os.path.join(d3, f)).st_mtime, f)
    )
    assert by_mtime == listing1


def test_last_epoch_sink_rejects_non_complete_modes():
    """The files sink returns the LAST committed epoch, which is the
    full answer only in complete mode — append/update callers would
    silently get one micro-batch's delta. The mode is validated up
    front, when the sink is built, before any run touches Spark."""
    for mode in ("append", "update"):
        with pytest.raises(ValueError, match="complete"):
            LastEpochSink(mode)
