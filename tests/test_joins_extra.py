"""Tests for the approximate distinct count and the as-of operator's
edge semantics (equal timestamps, left mode)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.asof import asof_join
from gerrydb_etl_spark.queries.base import REGISTRY
from tests.conftest import SF_ORACLE


def test_approx_distinct_within_tolerance(spark):
    df = REGISTRY["approx_distinct_customers"].spark(spark, SF_ORACLE)
    rows = df.collect()
    assert rows, "no groups"
    for r in rows:
        assert r.within_5pct, (
            f"{r.o_orderstatus}: HLL estimate drifted >5% from "
            f"exact {r.n_custs_exact}"
        )


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, minute, 0)


def test_asof_equal_timestamp_matches(spark):
    """A right row at exactly left.ts must match (>= contract)."""
    left = spark.createDataFrame(
        [(1, 10, _ts(5))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(5), 42.0)], "user_id long, ts timestamp, value double"
    )
    out = asof_join(left, right, "user_id", "ts", ["value"]).collect()
    assert len(out) == 1
    assert out[0].asof_value == 42.0


def test_asof_picks_latest_not_first(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(30))], "event_id long, user_id long, ts timestamp"
    )
    right = spark.createDataFrame(
        [(10, _ts(5), 1.0), (10, _ts(20), 2.0), (10, _ts(40), 3.0)],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, "user_id", "ts", ["value"]).collect()
    assert len(out) == 1
    assert out[0].asof_value == 2.0  # latest <= 00:30 is 00:20, not 00:40


def test_asof_inner_drops_unmatched_left_mode_keeps(spark):
    left = spark.createDataFrame(
        [(1, 10, _ts(1)), (2, 10, _ts(30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, _ts(10), 7.0)], "user_id long, ts timestamp, value double"
    )
    inner = asof_join(left, right, "user_id", "ts", ["value"], how="inner")
    assert [r.event_id for r in inner.collect()] == [2]
    left_mode = asof_join(left, right, "user_id", "ts", ["value"], how="left")
    rows = {r.event_id: r.asof_value for r in left_mode.collect()}
    assert rows == {1: None, 2: 7.0}


def test_asof_null_right_value_is_still_the_match(spark):
    """A newer right row with a NULL value column IS the as-of match
    (DuckDB semantics); per-column ignorenulls carries would mix the
    newer ts with an older non-null value."""
    left = spark.createDataFrame(
        [(1, 10, dt.datetime(2024, 1, 1, 0, 30))],
        "event_id long, user_id long, ts timestamp",
    )
    right = spark.createDataFrame(
        [(10, dt.datetime(2024, 1, 1, 0, 10), 5.0),
         (10, dt.datetime(2024, 1, 1, 0, 20), None)],
        "user_id long, ts timestamp, value double",
    )
    out = asof_join(left, right, "user_id", "ts", ["value"]).collect()
    assert len(out) == 1
    assert out[0].asof_ts == dt.datetime(2024, 1, 1, 0, 20)
    assert out[0].asof_value is None
