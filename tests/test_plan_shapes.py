"""Physical-plan regression guards: the scale properties the 100 TB
design depends on, asserted on every registered query's executed
plan so a future edit can't silently reintroduce an anti-pattern.

Invariants (verified plan audit):
  - no CartesianProduct anywhere;
  - no BatchEvalPython (row-at-a-time Python UDF) anywhere — Python
    runs only through ArrowEvalPython (vectorized pandas UDFs), and
    only in the geometry/vector kernels;
  - BroadcastNestedLoopJoin only in the three exact-cosine baseline
    queries, whose `!=` join is the deliberate O(corpus x queries)
    verification path (operators/similarity.py cosine_topk — the
    broadcast side is the capped query set);
  - predicate pushdown and column pruning reach the parquet scans.
"""

from __future__ import annotations

import re

import pytest

from gerrydb_etl_spark.queries import REGISTRY
from tests.conftest import SF_SMOKE

# the exact brute-force baselines (deliberate broadcast-bounded NLJ:
# cosine_topk's != join, exact_cosine_pairs' < self-join)
EXACT_BASELINE_QUERIES = {
    "embedding_cosine_topk",
    "ivf_verify",
    "ann_verify",
    "pq_verify",
    "embedding_int8_recall",
    "embedding_neardup_verify",
}

# vectorized (Arrow) pandas UDFs are allowed only here: WKB geometry
# kernels and LSH/IVF signature matmuls
# grouped applyInPandas (FlatMapGroupsInPandas) whitelist
GROUPED_PANDAS_QUERIES = {
    "event_cusum_changepoints",
    "geo_union_centroid",
}

ARROW_UDF_QUERIES = {
    "geo_point_roundtrip",
    "geo_union_centroid",
    "ivf_cosine_topk",
    "ivf_verify",
    "ann_cosine_topk",
    "ann_verify",
    "embedding_neardup",
    "embedding_neardup_verify",
}


def _executed_plan(spark, name: str) -> str:
    df = REGISTRY[name].spark(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_plan_has_no_scale_antipatterns(spark, name):
    plan = _executed_plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the plan — use a pandas UDF"
    )
    if name not in EXACT_BASELINE_QUERIES:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: nested-loop join outside the exact-baseline set"
        )
    if name not in ARROW_UDF_QUERIES:
        assert "ArrowEvalPython" not in plan, (
            f"{name}: unexpected Python UDF — this query is expected "
            "to stay entirely JVM-side"
        )
    if name not in GROUPED_PANDAS_QUERIES:
        # applyInPandas is reserved for operators whose semantics no
        # JVM expression can spell (the non-linear CUSUM scan; the
        # grouped WKB geometry union) — anything else growing this
        # node is a regression
        assert "FlatMapGroupsInPandas" not in plan, (
            f"{name}: unexpected applyInPandas operator"
        )


def test_decontam_broadcasts_benchmark_shingles(spark):
    """The decontamination probe must broadcast the (eval-suite-sized)
    benchmark shingle set — the corpus-side shingle stream may not
    shuffle into a sort-merge/shuffled-hash join."""
    plan = _executed_plan(spark, "benchmark_decontam")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_only_exchange_is_the_agg(spark):
    """bucketed_colocated_join's SortMergeJoin must consume matching
    buckets with no join-side shuffle: exactly one exchange (the
    final aggregation) in the whole plan."""
    plan = _executed_plan(spark, "bucketed_colocated_join")
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_filter_pushdown_reaches_scan(spark):
    """Equality/membership predicates must land in the parquet scan's
    PushedFilters, not evaluate post-scan only."""
    plan = _executed_plan(spark, "filters_membership")
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert pushed.strip(), "no filters pushed to the parquet scan"


def test_column_pruning_reaches_scan(spark):
    """A 2-column projection over documents must not scan the third
    column (ReadSchema shows what the scan actually decodes)."""
    plan = _executed_plan(spark, "text_stats")
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema, "unused column not pruned from scan"


def test_chunking_has_no_exchange(spark):
    """doc_chunking is a pure narrow map (sequence/explode/substring)
    — a KEYED Exchange (hash/range) appearing in its plan means
    someone added a real shuffle to an embarrassingly parallel
    operator. The one allowed exception is the single round-robin
    fan-out of the raw scan (SCALE_r16 curation_families: the narrow
    compute otherwise inherits the scan's few splits — 3.24x wall
    for 10x data on 2 of 32 cores; gated no-op at production split
    counts), which moves each row once with no key and no
    aggregation barrier."""
    plan = _executed_plan(spark, "doc_chunking")
    assert "hashpartitioning" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_partition_pruning_reaches_scan(spark):
    """partition_pruned_read's filter must appear as a
    PartitionFilters entry on the parquet scan (directory-level
    pruning), not merely as a post-scan row filter."""
    import re

    plan = _executed_plan(spark, "partition_pruned_read")
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_orderpriority" in m.group(1), plan


def test_q5_star_join_shape(spark):
    """local_supplier_volume: the o_orderdate range filter must reach
    the orders parquet scan, and every dimension join must be a
    broadcast hash join (the fact-fact join is the only allowed
    shuffle join)."""
    plan = _executed_plan(spark, "local_supplier_volume")
    assert "BroadcastHashJoin" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan, (
        "date range not pushed to the orders scan"
    )


def test_winnow_selection_is_shuffle_free(spark):
    """winnow_fingerprints computes its whole selection in the array
    domain — no Exchange may appear before the output explode."""
    plan = _executed_plan(spark, "winnow_fingerprints")
    assert "Exchange" not in plan, plan


def test_rrf_candidate_topk_is_distributed(spark):
    """rrf_hybrid_retrieval's candidate lists come from
    orderBy().limit(k) — Spark must compile them to
    TakeOrderedAndProject (per-partition heaps + driver merge), and
    the only rank windows may run AFTER the limit (over ≤ 2k rows).
    A global Sort before a window would be the single-reducer
    anti-pattern."""
    plan = _executed_plan(spark, "rrf_hybrid_retrieval")
    assert "TakeOrderedAndProject" in plan, plan


def test_dsir_ratio_join_broadcasts_the_ratio_table(spark):
    """dsir_importance_weights joins the corpus token stream to the
    1024-row feature-ratio table — that side must broadcast; a
    shuffle of the full token stream on the bucket key would be the
    wrong plan at any scale."""
    plan = _executed_plan(spark, "dsir_importance_weights")
    assert "BroadcastHashJoin" in plan, plan


def _assert_dense_id_plan(plan: str) -> None:
    """The dense-ID contract: the id pass is JVM-native (no
    Python boundary at all), the offsets ride a broadcast hash join
    (the corpus side never reshuffles), and the ONLY window / single
    -partition exchange permitted is the bounded per-partition
    counts prefix-sum — every Window node must aggregate the `_n`
    counts column (#shuffle-partitions rows of model state), never a
    corpus column."""
    assert "MapInPandas" not in plan, plan
    assert "EvalPython" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    windows = re.findall(r"Window \[[^\r\n]*", plan)
    assert windows, "offsets window missing from the dense-id plan"
    for w in windows:
        assert "sum(_n#" in w, f"non-bounded window in dense-id plan: {w}"
    # any single-partition exchange must be one of the bounded
    # offsets windows' inputs — never a corpus funnel
    assert plan.count("Exchange SinglePartition") <= len(windows), plan


def test_epoch_shuffle_has_no_per_epoch_window(spark):
    """epoch_shuffle_order ranks through the two-phase dense-ID
    assigner: every shuffle partition sorts a narrow (epoch, mix)
    key range in parallel. A Window.partitionBy("epoch") spelling
    would funnel the corpus through N_EPOCHS=3 reducers; a
    global-sort row_number through one. The only window allowed is
    the assigner's bounded counts prefix-sum (JVM-native id
    pass)."""
    plan = _executed_plan(spark, "epoch_shuffle_order")
    _assert_dense_id_plan(plan)


def test_dpp_prunes_fact_scan_at_runtime(spark):
    """dpp_runtime_pruned_join: the fact scan's PartitionFilters must
    carry a dynamicpruning expression (runtime directory pruning fed
    by the dim broadcast) — the filter lives on a dim attribute the
    fact layout cannot see, so static pruning is impossible."""
    plan = _executed_plan(spark, "dpp_runtime_pruned_join")
    assert "dynamicpruning" in plan.lower(), plan


def test_priority_sample_topk_is_distributed(spark):
    """priority_sample_topk's only distributed step must be
    TakeOrderedAndProject (per-partition top-(k+1) heaps, driver
    merge); the rank/tau windows run after the limit over k+1 rows,
    so no Exchange may appear anywhere in the plan."""
    plan = _executed_plan(spark, "priority_sample_topk")
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan


def test_rfm_quartiles_have_no_single_partition_exchange(spark):
    """customer_rfm_segments' three quartile ranks must run through
    the two-phase dense-ID assigner (range shuffle + JVM-native
    offset pass per dimension) — no global rank window funneling the
    corpus through one reducer (three unpartitioned rank() windows
    would each funnel it); the dense-ID contract additionally bans
    the Python boundary an Arrow pass would pay."""
    plan = _executed_plan(spark, "customer_rfm_segments")
    _assert_dense_id_plan(plan)


def test_curriculum_packing_is_window_free(spark):
    """curriculum_packing's global running total must run through
    the two-phase prefix-sum assigner (range shuffle + Arrow pass),
    never a single-reducer SUM-OVER window."""
    plan = _executed_plan(spark, "curriculum_packing")
    assert "Window" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "MapInPandas" in plan, plan


def test_twolevel_multiprobe_blocks_on_refined_key(spark):
    """The forced-split query exists to prove the past-the-cap path
    executes with refined blocking: the pair join in the EXECUTED
    plan must key on BOTH cluster_id and sub_id (plus the skew salt)
    — a plan that paired on the coarse cell alone would be the exact
    quadratic-occupancy failure the subcell hierarchy removes."""
    import re

    plan = _executed_plan(spark, "ivf_multiprobe_twolevel")
    pair_joins = [
        ln for ln in plan.splitlines()
        if re.search(r"(SortMergeJoin|ShuffledHashJoin)", ln)
        and "a_id" in ln  # the d1 < d2 pair-join condition
    ]
    assert pair_joins, "pair join not found in executed plan"
    for ln in pair_joins:
        assert "cluster_id" in ln and "sub_id" in ln, ln


def test_scd2_append_fastpath_plan_is_join_free(spark):
    """The append fast path must SKIP the close step, not merely
    no-op through it: the registered double-disjoint-load query's
    executed plan contains no join of any kind — the current table
    flows through a partition-preserving union (the reference's
    db.py:135-139 short-circuit). The contrast
    case pins that probe_append=False keeps the close-and-insert
    join (the __hit marker), so the gate proves the probe is what
    removes it."""
    plan = _executed_plan(spark, "scd2_append_fastpath")
    assert "Join" not in plan, plan

    from pyspark.sql import functions as F

    from gerrydb_etl_spark.store.scd2 import empty_versioned, scd2_merge

    inc = (
        spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
        .select("o_orderkey", F.col("o_totalprice").alias("price"))
    )
    # non-empty current (a provably-empty one lets Catalyst fold the
    # close join away on its own, which would vacuously pass)
    state1 = scd2_merge(empty_versioned(inc), inc, ["o_orderkey"], version=1)
    disjoint = inc.select(
        (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
        "price",
    )
    state2 = scd2_merge(
        state1, disjoint, ["o_orderkey"], version=2, probe_append=False,
    )
    plan2 = state2._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan2 and "__hit" in plan2
