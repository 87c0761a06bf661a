"""Hypothesis property tests for the SCD-2 merge writer: for ANY
sequence of load batches, the version chain keeps its invariants and
the current view equals a last-write-wins fold (SURVEY.md §5
strategy 3)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from gerrydb_etl_spark.store.scd2 import (
    assert_version_invariants,
    current_view,
    empty_versioned,
    scd2_merge,
)
from gerrydb_etl_spark.store.wap import VersionedTable

# sequences of small load batches: [(key, value), ...] per batch
keys = st.sampled_from(["a", "b", "c", "d"])
batch = st.dictionaries(keys, st.integers(min_value=0, max_value=3), min_size=1)
batches = st.lists(batch, min_size=1, max_size=4)


@given(batches=batches)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_merge_invariants_and_last_write_wins(spark, batches):
    state = None
    expected: dict[str, int] = {}
    for i, b in enumerate(batches, start=1):
        rows = [(k, v) for k, v in sorted(b.items())]
        inc = spark.createDataFrame(rows, "k string, v long")
        if state is None:
            state = empty_versioned(inc)
        state = scd2_merge(state, inc, ["k"], version=i)
        expected.update(b)

    # cache: the invariant check + current view both traverse the
    # (deeply nested after N merges) plan
    state = state.cache()
    try:
        assert_version_invariants(state, ["k"])
        cur = {(r.k, r.v) for r in current_view(state).collect()}
        assert cur == set(expected.items())
    finally:
        state.unpersist()


@given(batches=batches)
@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_versioned_chain_invariants_and_last_write_wins(spark, tmp_path_factory, batches):
    """The same fold through a VersionedTable: each batch merges onto
    the published read() (which carries unchanged files into the next
    version) and is written before the next one."""
    table = VersionedTable(spark, str(tmp_path_factory.mktemp("chain")))
    expected: dict[str, int] = {}
    for i, b in enumerate(batches, start=1):
        inc = spark.createDataFrame(sorted(b.items()), "k string, v long")
        current = table.read() if i > 1 else empty_versioned(inc)
        table.write(scd2_merge(current, inc, ["k"], version=i))
        expected.update(b)

    state = table.read()
    assert_version_invariants(state, ["k"])
    assert {(r.k, r.v) for r in current_view(state).collect()} == set(expected.items())
    assert table.meta()["rows"] == state.count()
