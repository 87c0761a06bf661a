"""Driver-exposure contract guards (__spark_entry__.py): the round
driver samples a ~50-query prefix of queries(), so ordering IS
correctness visibility. These tests fail fast if a refactor breaks
the prefix the next CORRECTNESS round depends on.

The never-sampled assertion is DERIVED from the CORRECTNESS_r*.json
artifacts on disk, not from a hardcoded snapshot — a hardcoded
never-sampled set goes red the moment the driver samples it (the
very event the test exists to force). Every assertion here must stay
true both BEFORE and AFTER the driver writes its next artifact."""

from __future__ import annotations

import json
import pathlib

import __spark_entry__ as entry

# Window composition (50 slots exactly; see the block
# comments in __spark_entry__.py). Kept as constants so a window
# refactor that silently drops a planned block fails loudly — but
# correctness-critical invariants below are artifact-derived.
NEW_THIS_ROUND = [
    # Block A: every query whose executed plan changed in the last
    # optimization pass (streaming drain pin, staged fingerprint
    # indexes, unsalted refined-subcell pair join, SCD-2 probe pin,
    # dense-ID counts guard)
    "events_stream_join_attribution",
    "events_stream_session",
    "events_stream_dedup",
    "events_stream_user_totals",
    "events_stream_tumbling",
    "events_stream_sliding",
    "simhash_near_dup",
    "simhash_verify",
    "winnow_fingerprints",
    "winnow_near_dup",
    "ivf_multiprobe_twolevel",
    "scd2_pointintime_join",
    "scd2_double_load",
    "scd2_idempotent_reload",
    "scd2_current_view",
    "customer_rfm_segments",
    "epoch_shuffle_order",
    "dense_id_assignment",
    "orders_stream_checksum",
    "docs_stream_dedup_ingest",
    "embeddings_stream_index_ingest",
    "minhash_near_dup",
    "minhash_verify",
    "incremental_minhash_dedup",
]

# the alphabetical head of the cohort longest without a driver row
# (the rest of that cohort leads the next window)
STALE_REFILL = [
    "bucketed_colocated_join",
    "cluster_safe_split",
    "clustering_coefficient",
    "cohort_retention",
    "copurchase_triangles",
    "daves_enacted_assignments",
    "eav_pivot_roundtrip",
    "event_transition_matrix",
    "feature_quantile_norm",
    "format_roundtrip_json_csv",
    "geo_union_centroid",
    "hll_overlap_estimate",
    "hll_sketch_rollup",
    "ivf_blocked_neardup",
    "ivf_verify",
    "join_delta_maintenance",
    "medsl_config_projection",
    "observed_load_metrics",
    "partition_pruned_read",
    "prefix_filter_jaccard",
    "rename_normalizations",
    "repetition_quality",
    "salted_holistic_collect",
    "schema_evolution_read",
    "sequence_packing",
    "skew_replicated_join",
]

# Block A already holds every plan-changed query
TOUCHED: list[str] = []


def _sampled_by_round() -> dict[str, int]:
    """name -> latest round with a driver row, from the artifacts."""
    latest: dict[str, int] = {}
    for p in sorted(
        pathlib.Path(__file__).parents[1].glob("CORRECTNESS_r*.json")
    ):
        rnd = int(p.stem.split("_r")[1])
        for name in json.loads(p.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def test_priority_names_all_registered():
    # _ordered_registry raises on unknown names; calling queries()
    # exercises it
    qs = entry.queries()
    assert len(qs) >= 100


def test_window_is_exactly_the_three_blocks():
    window = list(entry.queries())[:50]
    want = NEW_THIS_ROUND + STALE_REFILL + TOUCHED
    assert len(want) == 50, len(want)
    assert window == want


def test_never_sampled_queries_lead_the_window():
    """One-sided, artifact-derived: every
    registered query with NO driver row in ANY recorded round must
    sit at the head of the window. Once the driver samples them the
    computed set shrinks (to empty) and the assertion stays true —
    the driver doing its job can never red this test."""
    sampled = set(_sampled_by_round())
    ordered = list(entry.queries())
    never = [n for n in ordered if n not in sampled]
    assert set(never) <= set(ordered[: max(len(never), 1)]), (
        f"never-sampled queries not leading the window: {never}"
    )


def test_no_query_lags_the_newest_round_by_more_than_four():
    """The rotation's purpose, as a standing invariant: any query
    whose latest driver row lags the newest recorded round by MORE
    than 4 rounds must be inside this round's window (it is about to
    be refreshed). Stays true after the driver writes this round's
    artifact — refreshed queries stop lagging."""
    latest = _sampled_by_round()
    if not latest:
        return
    newest = max(latest.values())
    window = set(list(entry.queries())[:50])
    lagging = [
        n
        for n, rnd in latest.items()
        if newest - rnd > 4 and n not in window
    ]
    assert not lagging, (
        f"stale queries (>{4} rounds old) left outside the window: "
        f"{sorted(lagging)}"
    )


def test_window_has_no_unverified_stragglers():
    """Every registered query outside the 50-sample window must have
    a green row in some prior CORRECTNESS_r*.json; nothing
    never-sampled may sit past the cut."""
    sampled = set(_sampled_by_round())
    beyond = list(entry.queries())[50:]
    never = [n for n in beyond if n not in sampled]
    assert not never, f"never-verified queries pushed past the window: {never}"


def test_oracles_cover_registry():
    qs, osql = entry.queries(), entry.oracle_sql()
    rows_only = set(qs) - set(osql)
    # the only rows-only entries are production plans of approximate
    # operators whose outputs are not SQL-expressible; each has an
    # oracle-checked *_verify twin
    assert rows_only <= {
        "simhash_near_dup",
        "ann_cosine_topk",
        "ivf_cosine_topk",
        "embedding_neardup",
    }
    for name in rows_only:
        assert any(
            v.startswith(name.split("_")[0]) and v.endswith("_verify")
            for v in qs
        ), name
