"""Regression tests for the round-15 ADVICE items: the live PQ
coupling-guard band, the probe_append=False determinism pin, the
refine-scales-with-codes rule, and the files-sink output
mode contract. (The bench rebase-consumption fix is pinned in
test_bench_ratchet.py.)"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_forced_pq_params_guard_band_is_live():
    """ADVICE r15 (queries/llm_similarity.py): the old guard compared
    params only for n <= PQ_ACTIVATE, where pq_params_for_corpus
    returns the literals by construction — dead code. The live guard
    mirrors clustering.py's _forced_per_cell: a corpus INSIDE
    (PQ_ACTIVATE, 2 * PQ_ACTIVATE] is a fixture that grew past the
    activation point against a literal-generated oracle and must
    raise, not silently ship scaled params."""
    from gerrydb_etl_spark.operators.pq import PQ_ACTIVATE
    from gerrydb_etl_spark.queries.llm_similarity import (
        _PQ_CODES,
        _PQ_M,
        _PQ_REFINE,
        _forced_pq_params,
    )

    # at and below the activation point: literals, no raise
    for n in (60, 6_000, PQ_ACTIVATE):
        assert _forced_pq_params(n) == (_PQ_M, _PQ_CODES, _PQ_REFINE)
    # inside the band the scaled rule diverges from the literals
    # immediately (one production point past activation, SCALE_r16)
    # -> loud failure, not a silent oracle hash mismatch
    for n in (PQ_ACTIVATE + 1, 100_000, 2 * PQ_ACTIVATE):
        with pytest.raises(AssertionError, match="guard band"):
            _forced_pq_params(n)
    # past the band: the intentional-scale regime, scaled rule governs
    assert _forced_pq_params(256_000) == (4, 64, 64)


def test_pq_mid_band_is_gone():
    """ADVICE r15 flagged the interpolation mid-band (codes near 16
    with refine already 32 — the worst measured knob combination).
    The SCALE_r16 midpoint measurement resolved it by KILLING the
    interpolation: past PQ_ACTIVATE there is exactly one production
    point, (4, 64, 64) — the interpolated (4,32,32) at 128k recalled
    0.588 vs 0.831 for the full books on the same corpus, and the
    64-code build cost is trivial next to the coarse IVF build."""
    from gerrydb_etl_spark.operators.pq import (
        PQ_ACTIVATE,
        pq_params_for_corpus,
    )

    seen = {
        pq_params_for_corpus(n)
        for n in (PQ_ACTIVATE + 1, 70_000, 128_000, 256_000, 10_000_000)
    }
    assert seen == {(4, 64, 64)}, seen


def test_scd2_merge_pins_incoming_on_close_insert_path(spark, tmp_path):
    """ADVICE r15 (store/scd2.py): the localCheckpoint pin applied
    only on the probe_append=True path, but probe_append=False also
    consumes ``incoming`` in multiple plan branches (to_insert and
    eff_keys/closed both derive from it) — an unpinned
    nondeterministic batch could close one key set while inserting
    another. Same flaky-batch construction as the r14 probe test,
    now through the close-and-insert plan."""
    from gerrydb_etl_spark.store.scd2 import (
        assert_version_invariants,
        current_view,
        scd2_merge,
    )

    counter = str(tmp_path / "evals")

    @F.udf("long")
    def flaky_key(i):
        import os

        n = int(open(counter).read()) if os.path.exists(counter) else 0
        with open(counter, "w") as f:
            f.write(str(n + 1))
        return 100 + n

    incoming = (
        spark.range(1)
        .coalesce(1)
        .select(flaky_key(F.col("id")).alias("k"), F.lit(9.0).alias("v"))
    )
    current = spark.createDataFrame(
        [(100, 5.0, 1)], "k long, v double, valid_from long"
    ).withColumn("valid_to", F.lit(None).cast("long"))

    merged = scd2_merge(current, incoming, ["k"], version=2,
                        probe_append=False)
    rows = merged.orderBy("k", "valid_from").collect()
    # first evaluation yields key 100 (a changed value for the open
    # row): the SAME key must be closed AND re-inserted — an unpinned
    # batch would close 100 but insert a re-rolled 101
    assert [(r["k"], r["valid_from"], r["valid_to"]) for r in rows] == [
        (100, 1, 2),
        (100, 2, None),
    ], rows
    assert {r["k"] for r in current_view(merged).collect()} == {100}
    assert_version_invariants(merged, ["k"])


def test_last_epoch_sink_rejects_non_complete_modes():
    """ADVICE r15 (streaming/stream.py): the files sink returns the
    LAST committed epoch, which is the full answer only in complete
    mode — append/update callers would silently get one
    micro-batch's delta. The mode is validated up front, when the
    sink is built, before any run touches Spark."""
    from gerrydb_etl_spark.streaming.stream import LastEpochSink

    for mode in ("append", "update"):
        with pytest.raises(ValueError, match="complete"):
            LastEpochSink(mode)
