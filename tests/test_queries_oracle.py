"""Oracle-differential tests: every registered query with an oracle
runs on Spark at sf0.01 and must match DuckDB exactly (row count +
schema + order-insensitive value hash) — the same gate the driver
applies (SURVEY.md §5 strategy 1)."""

from __future__ import annotations

import pytest

from gerrydb_etl_spark.queries import REGISTRY
from tests.conftest import SF_ORACLE
from tests.oracle_compare import assert_matches_oracle

ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if not s.oracle)


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_query_matches_oracle(spark, duck, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, SF_ORACLE)
    assert_matches_oracle(df, duck, spec.oracle, name)


def test_every_query_has_a_full_oracle():
    """Every registered query carries a full DuckDB
    value-hash oracle — rows-only entries would weaken the driver's
    correctness gate, so their reappearance is a failure, not a
    weaker check. (The rows-only smoke test this replaces skipped as
    an empty parameter set.)"""
    assert ROWS_ONLY_QUERIES == [], (
        f"queries registered without an oracle: {ROWS_ONLY_QUERIES}"
    )
