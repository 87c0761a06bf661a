"""Event-time windowing queries over `events` (SURVEY.md §2.9).

DuckDB oracles: tumbling/sliding via time_bucket arithmetic; session
windows via the classic gaps-and-islands (lag + cumulative sum) —
the SQL spelling of what session_window computes in one pass.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.wap import VersionedTable
from gerrydb_etl_spark.streaming.stream import (
    LastEpochSink,
    MemorySink,
    events_source,
    read_events_stream,
    run_stream,
    running_user_cents,
    scaled_state_partitions,
    stage_events,
)
from gerrydb_etl_spark.streaming.windows import json_props, session, sliding, tumbling


# The ingest heads' versioned stores, one subdirectory per call, under
# one root per process: created on first use under the system temp
# directory (never the warehouse) and removed when the process exits,
# so a head can return a lazy read of its published version. Nothing
# frees a store before then (a caller may still hold an earlier call's
# read), so the root's disk use grows by one published table per call:
# calls x survivor bytes for a long-running process. A killed process
# skips the exit hook and leaves its ``ingest_stores_*`` root behind.
_STORE_ROOT: str | None = None


def _ingest_store(
    spark: SparkSession, prefix: str, ingest: Callable[[str], object]
) -> VersionedTable:
    """Run ``ingest`` into a new store directory under the process's
    scratch root and return the store. A failed ingest removes its
    directory at once."""
    global _STORE_ROOT
    if _STORE_ROOT is None:
        _STORE_ROOT = tempfile.mkdtemp(prefix="ingest_stores_")
        atexit.register(shutil.rmtree, _STORE_ROOT, ignore_errors=True)
    root = tempfile.mkdtemp(prefix=prefix, dir=_STORE_ROOT)
    try:
        ingest(root)
    except BaseException:
        shutil.rmtree(root, ignore_errors=True)
        raise
    return VersionedTable(spark, root)


@query(
    "events_tumbling_hourly",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type."""
    return tumbling(load_table(spark, sf_dir, "events"), "1 hour")


@query(
    "events_sliding_windows",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(ws + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT time_bucket(INTERVAL '10 minutes', ts)
                   - k * (INTERVAL '10 minutes') AS ws,
               value
        FROM events, (SELECT unnest([0, 1, 2]) AS k)
    )
    GROUP BY 1, 2
    """,
)
def events_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute windows sliding by 10 minutes (3x overlap). The
    oracle expands each event into its 3 member windows explicitly."""
    return sliding(load_table(spark, sf_dir, "events"), "30 minutes", "10 minutes")


@query(
    "events_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '10 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def events_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session windows with a 10-minute inactivity gap —
    session_window in Spark, gaps-and-islands in the oracle."""
    return session(load_table(spark, sf_dir, "events"), "10 minutes")


@query(
    "events_stream_tumbling",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation as events_tumbling_hourly, but
    executed by the real Structured Streaming engine: readStream file
    source -> watermark -> window agg -> memory sink, driven to
    completion with Trigger.AvailableNow (micro-batches + state
    store, deterministic because the input is bounded). Shares the
    batch query's oracle — streaming/batch parity is the check
    (tests/test_streaming.py asserts it locally; this query makes it
    driver-visible)."""
    return run_stream(
        spark,
        events_source(
            spark, sf_dir,
            lambda df: tumbling(df.withWatermark("ts", "1 hour"), "1 hour"),
        ),
        MemorySink("complete"),
        # scale-adaptive: the input-size-derived count equals
        # the floor 8 at bench scale and grows with the
        # corpus — see streaming/stream.py scaled_state_partitions
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "events_stream_file_sink",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY 1, 2, 3
    """,
)
def events_stream_file_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME streamed tumbling aggregation as
    events_stream_tumbling, but leaving the engine through the
    driver-unbounded sink: foreachBatch parquet epochs behind commit
    markers, final epoch pinned executor-side
    (streaming/stream.py LastEpochSink — the scale path past
    the memory sink's MEMSINK_MAX_ROWS driver ceiling).
    Hash-matching the batch oracle proves the file route
    is row-identical to both the batch aggregate and the
    memory-sink stream."""
    return run_stream(
        spark,
        events_source(
            spark, sf_dir,
            lambda df: tumbling(df.withWatermark("ts", "1 hour"), "1 hour"),
        ),
        LastEpochSink("complete"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "events_stream_sliding",
    oracle="""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(ws + INTERVAL '30 minutes', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM (
        SELECT time_bucket(INTERVAL '10 minutes', ts)
                   - k * (INTERVAL '10 minutes') AS ws,
               value
        FROM events, (SELECT unnest([0, 1, 2]) AS k)
    )
    GROUP BY 1, 2
    """,
)
def events_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME sliding aggregation as events_sliding_windows, but
    executed by the real Structured Streaming engine (readStream ->
    watermark -> overlapping window agg -> memory sink, AvailableNow).
    Shares the batch query's oracle — streaming/batch parity for
    overlapping windows is the check."""
    return run_stream(
        spark,
        events_source(
            spark, sf_dir,
            lambda df: sliding(
                df.withWatermark("ts", "1 hour"), "30 minutes", "10 minutes"
            ),
        ),
        MemorySink("complete"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "events_stream_session",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         <= INTERVAL '10 minutes'
                    THEN 0 ELSE 1 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
           strftime(MAX(ts) + INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S.%f') AS session_end,
           user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def events_stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME session windows as events_session_windows, but
    executed by the real Structured Streaming engine — session_window
    state merging across micro-batches is the distinctive stateful
    path here (sessions can grow/merge as batches arrive; AvailableNow
    over bounded input makes the final state deterministic). Shares
    the batch query's gaps-and-islands oracle."""
    return run_stream(
        spark,
        events_source(
            spark, sf_dir,
            lambda df: session(df.withWatermark("ts", "1 hour"), "10 minutes"),
        ),
        MemorySink("complete"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "events_stream_user_totals",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS total_cents
    FROM events
    GROUP BY user_id
    """,
)
def events_stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator, driver-visible WITH a
    real oracle: per-user running totals via applyInPandasWithState
    (Arrow-batched per-group state across micro-batches), driven to
    completion with AvailableNow. Exactness trick: the monetary
    column becomes integer cents JVM-side before the UDF, so the
    stateful sum is order-independent and the final state equals a
    plain GROUP BY — previously this operator had pytest-only
    coverage because float summation order blocked an oracle pairing
    (streaming/stream.py:running_user_cents). The update-mode memory
    sink appends one row per (user, micro-batch); the final row per
    user (max n_events — monotone in updates) is the complete
    total."""
    updates = run_stream(
        spark,
        events_source(spark, sf_dir, running_user_cents),
        MemorySink("update"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )
    return updates.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_cents", "n_events").alias("total_cents"),
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
           MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events
    GROUP BY event_type
    """,
)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json over the props column with an explicit schema, then
    aggregation on the extracted field (§2.6 JSON scalar target)."""
    return json_props(load_table(spark, sf_dir, "events"))


@query(
    "events_stream_dedup",
    oracle="""
    SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S.%f') AS window_start,
           strftime(time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour', '%Y-%m-%d %H:%M:%S.%f') AS window_end,
           event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
          <= (SELECT MAX(ts) - INTERVAL '1 hour' FROM events)
    GROUP BY 1, 2, 3
    """,
)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once recovery from at-least-once delivery:
    the staged stream source lists the events file TWICE (every event
    arrives 2x), dropDuplicatesWithinWatermark collapses the replays
    by event_id with watermark-bounded state, and the deduped stream
    feeds the same tumbling aggregation as the batch path — two
    chained stateful operators in one real streaming query (Spark
    3.5+ multi-stateful support, append mode). The oracle aggregates
    the SINGLE copy of events: matching proves the engine removed
    every duplicate. Append emits only watermark-closed windows, so
    the oracle excludes windows ending after max(ts) - delay.

    At 100 TB of replayed input the dedup state is one event_id per
    event inside the watermark horizon, hash-partitioned across the
    state store; everything downstream sees each event once."""

    def dedup_then_window(stream: DataFrame) -> DataFrame:
        deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        return tumbling(deduped, "1 hour")

    return run_stream(
        spark,
        events_source(spark, sf_dir, dedup_then_window, copies=2),
        MemorySink("append"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "events_stream_join_attribution",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us,
           epoch_us(v.ts) - epoch_us(c.ts) AS lag_us
    FROM events c JOIN events v
      ON c.user_id = v.user_id
     AND c.event_type = 'click' AND v.event_type = 'view'
     AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL '4 hours'
    """,
)
def events_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (click->view attribution within 4
    hours, per user) executed by the real Structured Streaming
    engine: every view is attributed to each prior click by the same
    user within the window — the classic streaming ad-attribution
    join. The oracle is the equivalent batch interval join;
    epoch-micro BIGINT outputs make the comparison exact.

    Both sides are independent file-source streams (two readStream
    handles over the same staged dir) with their own watermark; the
    range condition ``view.ts BETWEEN click.ts AND click.ts + W``
    is ON THE EVENT-TIME COLUMNS, which is what lets the engine
    derive state-eviction bounds: click state is dropped once the
    view-side watermark passes click.ts + W, and view state once the
    click-side watermark passes view.ts. Join state is therefore
    bounded by (watermark + window) x arrival rate, per user-id
    state partition — an unbounded 100 TB/day stream holds only
    hours of state, hash-spread across the state store. Output is
    append-mode, the only mode stream-stream inner joins support."""

    def side(stage: str, kind: str) -> DataFrame:
        # kind "click" -> click_id, c_user, click_ts (likewise "view")
        return (
            read_events_stream(spark, sf_dir, stage)
            .filter(F.col("event_type") == kind)
            .select(
                F.col("event_id").alias(f"{kind}_id"),
                F.col("user_id").alias(f"{kind[0]}_user"),
                F.col("ts").alias(f"{kind}_ts"),
            )
            .withWatermark(f"{kind}_ts", "1 hour")
        )

    def attribution(stage: str) -> DataFrame:
        stage_events(sf_dir, stage)
        clicks, views = side(stage, "click"), side(stage, "view")
        return clicks.join(
            views,
            (F.col("c_user") == F.col("v_user"))
            & (F.col("view_ts") >= F.col("click_ts"))
            & (F.col("view_ts") <= F.col("click_ts") + F.expr("INTERVAL 4 hours")),
        ).select(
            "click_id",
            "view_id",
            F.col("c_user").alias("user_id"),
            F.unix_micros("click_ts").alias("click_us"),
            F.unix_micros("view_ts").alias("view_us"),
            (F.unix_micros("view_ts") - F.unix_micros("click_ts")).alias("lag_us"),
        )

    return run_stream(
        spark,
        attribution,
        MemorySink("append"),
        state_partitions=scaled_state_partitions(spark, sf_dir),
    )


@query(
    "funnel_conversion_stages",
    oracle="""
    WITH v AS (
        SELECT user_id, MIN(ts) AS first_view
        FROM events WHERE event_type = 'view' GROUP BY 1
    ),
    c AS (
        SELECT v.user_id, MIN(e.ts) AS first_click
        FROM v JOIN events e ON e.user_id = v.user_id AND e.event_type = 'click'
         AND e.ts > v.first_view AND e.ts <= v.first_view + INTERVAL '24 hours'
        GROUP BY 1
    ),
    p AS (
        SELECT c.user_id, MIN(e.ts) AS first_purchase
        FROM c JOIN events e ON e.user_id = c.user_id AND e.event_type = 'purchase'
         AND e.ts > c.first_click AND e.ts <= c.first_click + INTERVAL '24 hours'
        GROUP BY 1
    )
    SELECT v.user_id,
           CASE WHEN p.user_id IS NOT NULL THEN 3
                WHEN c.user_id IS NOT NULL THEN 2
                ELSE 1 END AS stage,
           epoch_us(v.first_view) AS view_us,
           epoch_us(c.first_click) AS click_us,
           epoch_us(p.first_purchase) AS purchase_us
    FROM v LEFT JOIN c ON c.user_id = v.user_id
           LEFT JOIN p ON p.user_id = v.user_id
    """,
)
def funnel_conversion_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel per user: first view -> first click
    within 24h of it -> first purchase within 24h of that. Each stage
    is a per-user min-agg (map-side combined) plus a user-keyed join
    against the next event type — the funnel depth, not the corpus,
    sets the number of shuffles, and every join key is user_id, so
    all stages co-partition under one exchange reuse at scale.
    Timestamps come out as exact epoch-micro BIGINTs."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    c = (
        v.join(ev.filter(F.col("event_type") == "click").select("user_id", "ts"), "user_id")
        .filter(
            (F.col("ts") > F.col("first_view"))
            & (F.col("ts") <= F.col("first_view") + F.expr("INTERVAL 24 hours"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_click"))
    )
    p = (
        c.join(
            ev.filter(F.col("event_type") == "purchase").select("user_id", "ts"),
            "user_id",
        )
        .filter(
            (F.col("ts") > F.col("first_click"))
            & (F.col("ts") <= F.col("first_click") + F.expr("INTERVAL 24 hours"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            F.when(F.col("first_purchase").isNotNull(), F.lit(3))
            .when(F.col("first_click").isNotNull(), F.lit(2))
            .otherwise(F.lit(1))
            .alias("stage"),
            F.unix_micros("first_view").alias("view_us"),
            F.unix_micros("first_click").alias("click_us"),
            F.unix_micros("first_purchase").alias("purchase_us"),
        )
    )


@query(
    "events_stream_store_ingest",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           TRUE AS published
    FROM events
    """,
)
def events_stream_store_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once streaming ingest into the versioned store
    (streaming/stream.py run_stream_to_versioned_store): foreachBatch
    with an epoch-id-idempotent sink, row-count audit, one atomic
    WAP publish. The query streams the events table into a temp
    store, reads the PUBLISHED version back, and reports (rows,
    distinct event ids, published) — matching the batch oracle
    proves no event was lost or double-ingested across micro-batches
    and that the publish went through. The store lives until the
    process exits (`_ingest_store`), so the row is a lazy read of
    the published version; each call adds one store to the process's
    scratch root."""
    from gerrydb_etl_spark.streaming.stream import (
        run_stream_to_versioned_store,
    )

    table = _ingest_store(
        spark, "events_store_ingest_",
        lambda root: run_stream_to_versioned_store(spark, sf_dir, root),
    )
    return table.read().agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct"),
    ).withColumn("published", F.lit(table.current_version() is not None))


@query(
    "docs_stream_dedup_ingest",
    oracle="""
    SELECT doc_id, content_sha FROM (
        SELECT doc_id, sha256(text) AS content_sha,
               ROW_NUMBER() OVER (
                   PARTITION BY sha256(text) ORDER BY doc_id
               ) AS rn
        FROM documents
    ) WHERE rn = 1
    """,
)
def docs_stream_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming document ingest with cross-batch exact dedup into
    the versioned store (streaming/stream.py run_docs_dedup_ingest):
    two deterministic doc_id-range micro-batches; each batch keeps
    its first copy per content hash and anti-joins the compacted
    content-hash index (the cross-batch dedup state, kept on disk
    beside the epoch-keyed sink's commit markers, surviving driver
    restarts); one audited atomic WAP publish. Because batches
    ascend in doc_id, the sequential keep-first fold collapses to
    keep-min-doc_id per hash — which is exactly what the oracle
    states, so the whole streaming pipeline (batching, state carry,
    sink idempotence, publish) is value-hash gated per surviving
    row.

    Two epochs: each epoch carries a fixed micro-batch engine cost
    on trivial per-epoch work at bench scale, and two keep the
    cross-batch path live (the second epoch anti-joins the first's
    index). Replay idempotence, restart resume and index compaction
    are tested at their own epoch counts (tests/test_streaming.py);
    the oracle is batch-count invariant. The input epochs are the
    session-staged EPOCHS fixture, so no staging write runs inside
    the query.

    The store lives until the process exits (`_ingest_store`): the
    result is a lazy read of the published version, whose files are
    links to the committed epochs', so nothing is pinned or copied.
    Each call keeps its survivor set on local temp disk until then, so
    disk use grows with calls x survivor bytes."""
    from gerrydb_etl_spark.store.staging import EPOCHS
    from gerrydb_etl_spark.streaming.stream import run_docs_dedup_ingest

    stage_dir = EPOCHS.read(
        spark, sf_dir, "documents", "doc_id", "docs", 2, files_per_batch=1,
    )
    table = _ingest_store(
        spark, "docs_dedup_store_",
        lambda root: run_docs_dedup_ingest(
            spark, sf_dir, root, n_batches=2, stage_dir=stage_dir
        ),
    )
    return table.read().select("doc_id", "content_sha")
