"""Driver contract for the spark-graft builder (PySpark target).

Backed by the gerrydb_etl_spark package: every implemented operator
from SURVEY.md §2 registers a named (Spark callable, DuckDB oracle
SQL) pair in gerrydb_etl_spark.queries.REGISTRY.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from gerrydb_etl_spark.queries import REGISTRY

    return REGISTRY["pricing_summary"].spark(spark, SF0001)


# The round driver samples a bounded prefix (~50) of this dict each
# round, so ordering IS correctness visibility. Exposure is rotated
# explicitly each round: never-sampled queries first, then this
# round's code-touched queries, then whatever has gone longest
# without a driver row. Queries green last round with unchanged code
# sit below the window.
_EXPOSURE_PRIORITY = [
    # ---- ROUND 18 WINDOW (50 slots exactly) --------------------------
    # Block A (24): every query whose EXECUTED PLAN changed in the r18
    # optimization round, each locally oracle-verified at sf0.001 AND
    # sf0.01 through this contract at the point of change:
    # - the six memory-sink streaming heads (drain pinned
    #   executor-side instead of the collect + createDataFrame Python
    #   round-trip);
    # - the staged-fingerprint dedup consumers (simhash_near_dup +
    #   its verify twin, winnow_fingerprints, winnow_near_dup);
    # - ivf_multiprobe_twolevel (unsalted refined-subcell pair join);
    # - the four overlapping-merge SCD-2 heads (probe_append=False
    #   pins the one-pass close-and-insert plan);
    # - the three dense-ID consumers (2^33 fail-loud guard on the
    #   bounded counts table);
    # - the three streaming-ingest heads (session-staged epoch input
    #   directories replace the per-call staging writes);
    # - the three MinHash heads (session-staged banded LSH index
    #   replaces the per-query signature build).
    # events_stream_file_sink is not listed although it moved to
    # scaled_state_partitions with the other streaming heads: its
    # executed plan matches the pre-r18 one only at bench scale,
    # where the derived partition count equals the old constant 8;
    # on larger inputs its plan changes too.
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
    # Block B (26): the queries that have gone longest without a
    # driver row — the alphabetical head of the r14 cohort (every
    # query below the window was driver-green in r14-r17 with code
    # unchanged this round). The r14 tail that does not fit
    # (validation_*, windows family, etc.) leads the r19 window.
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


def _ordered_registry():
    from gerrydb_etl_spark.queries import REGISTRY

    missing = [n for n in _EXPOSURE_PRIORITY if n not in REGISTRY]
    if missing:
        raise KeyError(f"exposure-priority names not in REGISTRY: {missing}")
    rest = [n for n in REGISTRY if n not in _EXPOSURE_PRIORITY]
    return {n: REGISTRY[n] for n in (*_EXPOSURE_PRIORITY, *rest)}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: spec.spark for name, spec in _ordered_registry().items()}


def oracle_sql() -> dict[str, str]:
    """Equivalent DuckDB SQL per query (omitted for non-SQL-expressible ops)."""
    return {
        name: spec.oracle
        for name, spec in _ordered_registry().items()
        if spec.oracle is not None
    }
