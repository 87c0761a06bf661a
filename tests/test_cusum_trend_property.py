"""Property tests for the sequential/numeric operators:

  - cusum_scan vs a plain Python recursion over randomized grouped
    series — the per-group sort, the max-with-zero reset, and the
    alarm comparison all exercised across group shapes no fixed
    fixture covers;
  - trend_slope_per_type's integer slope arithmetic vs
    fractions.Fraction-exact OLS on randomized hourly series —
    in particular NEGATIVE slopes, where the sign-safe
    magnitude-then-sign division must keep Spark's truncating `div`
    consistent with exact floor-toward-zero semantics.

Style follows tests/test_property_operators.py (session-scoped spark
fixture reused across hypothesis examples).
"""

from __future__ import annotations

import datetime as dt
from fractions import Fraction

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gerrydb_etl_spark.operators.cusum import cusum_scan

series = st.lists(
    st.tuples(st.integers(0, 3), st.integers(-50, 50)),  # (key, dev)
    min_size=1,
    max_size=40,
)


def _brute_cusum(rows, threshold):
    # rows: [(key, order, dev)] -> {(key, order): (cusum, alarm)}
    out = {}
    by_key: dict[int, list] = {}
    for k, o, d in rows:
        by_key.setdefault(k, []).append((o, d))
    for k, seq in by_key.items():
        c = 0
        for o, d in sorted(seq):
            c = max(0, c + d)
            out[(k, o)] = (c, c > threshold)
    return out


@given(devs=series, threshold=st.integers(0, 60))
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_cusum_scan_matches_reference(spark, devs, threshold):
    rows = [
        (k, i, d, threshold) for i, (k, d) in enumerate(devs)
    ]
    df = spark.createDataFrame(
        rows, "key long, ord long, dev long, threshold long"
    )
    got = {
        (r["key"], r["ord"]): (r["cusum"], r["is_alarm"])
        for r in cusum_scan(df, ["key"], "ord", "dev", "threshold").collect()
    }
    assert got == _brute_cusum(
        [(k, o, d) for k, o, d, _ in rows], threshold
    )


hourly_counts = st.lists(st.integers(1, 40), min_size=1, max_size=12)


@given(counts=hourly_counts)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_trend_slope_matches_exact_fraction_ols(spark, tmp_path_factory, counts):
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gerrydb_etl_spark.queries import REGISTRY
    from tests.oracle_compare import assert_matches_oracle

    root = str(tmp_path_factory.mktemp("trend"))
    rows = []
    eid = 0
    for h, k in enumerate(counts):
        for _ in range(k):
            eid += 1
            rows.append((eid, dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(hours=h)))
    t = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["t"] * len(rows)),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows)),
        }
    )
    pq.write_table(t, os.path.join(root, "events.parquet"))
    spec = REGISTRY["trend_slope_per_type"]
    out = spec.spark(spark, root).collect()
    assert len(out) == 1
    r = out[0]
    n = len(counts)
    if n == 1:
        assert r["slope_x1e6"] is None
        return
    xs = list(range(1, n + 1))
    num = n * sum(x * y for x, y in zip(xs, counts)) - sum(xs) * sum(counts)
    den = n * sum(x * x for x in xs) - sum(xs) ** 2
    exact = Fraction(1_000_000 * num, den)
    # magnitude-then-sign: truncation toward zero of the exact value
    trunc = int(abs(exact)) * (1 if exact >= 0 else -1)
    assert r["slope_x1e6"] == trunc
    assert r["is_increasing"] == (num > 0)

    # and the DuckDB oracle agrees on the same mutated table
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{root}/events.parquet'"
    )
    assert_matches_oracle(spec.spark(spark, root), con, spec.oracle, "trend")
    con.close()
