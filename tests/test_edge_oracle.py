"""Edge-input oracle probes: run registry queries on MUTATED mini
tables (written as parquet dirs, read by both engines) and require
the same value-hash agreement the driver checks on the real corpus.
Covers the boundaries the sf-corpus never exercises: single-row
groups, constant value domains, exact gap thresholds, empty text.
"""

from __future__ import annotations

import os

import duckdb
import pytest

from gerrydb_etl_spark.queries import REGISTRY
from tests.oracle_compare import assert_matches_oracle


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    """A tiny sf-dir with adversarial events + documents tables,
    written as SINGLE parquet files (the driver's layout — the
    events loader footer-sniffs the file directly)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("edge_sf"))

    def ts(s: str) -> dt.datetime:
        return dt.datetime.fromisoformat(s)

    # events: one type with a single event (1-row spine); one type
    # whose consecutive events sit EXACTLY at the 30-min session gap
    # (boundary must not start a new session: rule is strictly >);
    # one type with sub-second jitter around the gap.
    events = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, 5, 6, 7], pa.int64()),
            "ts": pa.array(
                [
                    ts("2024-01-01 00:00:00.000000"),
                    ts("2024-01-01 00:00:00.000000"),
                    ts("2024-01-01 00:30:00.000000"),
                    ts("2024-01-01 01:00:00.000001"),
                    ts("2024-01-01 00:00:00.500000"),
                    ts("2024-01-01 00:30:00.400000"),
                    ts("2024-01-01 01:00:00.500001"),
                ],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1, 2, 2, 2, 3, 3, 3], pa.int64()),
            "event_type": pa.array(
                ["solo", "exact", "exact", "exact", "jitter", "jitter", "jitter"]
            ),
            "value": pa.array([1.0] * 7, pa.float64()),
            "props": pa.array(["{}"] * 7),
        }
    )
    pq.write_table(events, os.path.join(root, "events.parquet"))

    # documents: constant n_chars (degenerate quantiles q_lo == q_hi),
    # a 1-doc stratum, an empty-text doc, twin docs (full boilerplate)
    docs = pa.table(
        {
            "doc_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "text": pa.array(
                [
                    "a b c d e f g h",
                    "a b c d e f g h",
                    "x y z p q r s t",
                    "",
                    "m n o u v w a b",
                ]
            ),
            "lang": pa.array(["en", "en", "en", "fr", "de"]),
            "source": pa.array(["s1", "s1", "s1", "s2", "s3"]),
            "n_chars": pa.array([10] * 5, pa.int64()),
        }
    )
    pq.write_table(docs, os.path.join(root, "documents.parquet"))
    return root


@pytest.fixture(scope="module")
def edge_duck(edge_dir):
    con = duckdb.connect()
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_dir}/{t}.parquet'"
        )
    yield con
    con.close()


EDGE_QUERIES = [
    "timeline_gap_fill",        # 1-row spine for the solo type
    "event_rate_anomaly",       # zero-variance strata must not flag
    "session_id_assignment",    # exact-30-min gap: strictly-greater rule
    "robust_length_filter",     # constant n_chars: q_lo == q_hi, all kept
    "group_median_discrete",    # 1-doc strata
    "passage_dedup",            # twin docs fully boilerplate; empty text
    "doc_fingerprint",          # empty-token fold
    "simhash_near_dup",         # empty-token hash guard (fold init 0)
    "gopher_quality_rules",     # zero-word doc in every rational check
    "cdc_incremental_dedup",    # twin/empty docs: all-known + 1-chunk paths
    "bpe_segment_apply",        # empty-text word filter; 1-char words
    "temperature_mix_weights",  # 1-doc sources; zipf-free degenerate mix
    "histogram_quantile_rollup",  # constant n_chars: one bin, p50==p99
    "priority_sample_topk",     # corpus smaller than k+1: tau is NULL
    "image_dhash_neardup",      # empty text: flat image, fp 0; twins
    "cdc_fuzzy_chunk_match",    # 1-chunk docs; empty-cset filter; twins
    "curriculum_packing",       # all docs fit one pack; empty-text doc
    "bpe_fertility_by_lang",    # 1-doc langs; single-char words
    "cohort_retention",         # all users cohorted on one day: offset 0 only
    "event_transition_matrix",  # single-event user contributes no transition
    "time_decayed_engagement",  # age-0 event at the reference instant
    "feature_quantile_norm",    # 1-doc langs (cnt==1 guard); all-ties lang
    "prefix_filter_jaccard",    # twin docs (J=1); empty text -> no shingles
    "cluster_safe_split",       # twin docs share a split; singleton reps
    "collocation_phrase_match", # twin docs + a cross-doc repeat decide top-1
    "event_cusum_changepoints", # 1-hour series: dev 0, cusum 0, no alarm
    "trend_slope_per_type",     # 1-hour series: zero denominator -> NULL slope
    "session_path_topk",        # exact-gap boundary sessions; 1-event paths
]


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_inputs_match_oracle(spark, edge_dir, edge_duck, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, edge_dir)
    assert_matches_oracle(df, edge_duck, spec.oracle, f"edge:{name}")


def test_edge_session_boundary_semantics(spark, edge_dir):
    """Exactly-30-min gaps continue the session (strictly >);
    a microsecond beyond starts a new one."""
    out = {
        (r["user_id"], r["event_id"]): r["session_idx"]
        for r in REGISTRY["session_id_assignment"]
        .spark(spark, edge_dir)
        .collect()
    }
    assert out[(2, 2)] == 0 and out[(2, 3)] == 0  # exact gap: same session
    assert out[(2, 4)] == 1                        # 1 us beyond: new session
    assert out[(3, 6)] == 0                        # 29:59.9: same
    assert out[(3, 7)] == 1                        # 30:00.000001: new


def test_edge_anomaly_zero_variance_never_flags(spark, edge_dir):
    rows = REGISTRY["event_rate_anomaly"].spark(spark, edge_dir).collect()
    assert rows and all(r["is_anomaly"] is False for r in rows)


# -- relational/vector edge tables ------------------------------------


@pytest.fixture(scope="module")
def edge_rel_dir(tmp_path_factory):
    """Mini region/nation/customer/embeddings tables for the relational
    and vector queries: an empty region (no nations), a nation with ZERO
    customers (its plans must vanish identically in both engines),
    nationkey 0 (the SPECIAL_PLANS override), and an embeddings
    corpus with a duplicate run at the HEAD of the id order plus one
    cell exactly AT the split threshold (must NOT split) and one
    just past it (must split)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    root = str(tmp_path_factory.mktemp("edge_rel"))
    region = pa.table(
        {
            "r_regionkey": pa.array([0, 1], pa.int32()),
            "r_name": pa.array(["Alpha Region", "Empty Region"]),
        }
    )
    pq.write_table(region, os.path.join(root, "region.parquet"))
    nation = pa.table(
        {
            "n_nationkey": pa.array([0, 2], pa.int32()),
            "n_name": pa.array(["Aa Bb", "No Customers"]),
            "n_regionkey": pa.array([0, 0], pa.int32()),
        }
    )
    pq.write_table(nation, os.path.join(root, "nation.parquet"))
    cust = pa.table(
        {
            "c_custkey": pa.array([0, 1, 2, 7, 12], pa.int64()),
            "c_name": pa.array([f"c{i}" for i in range(5)]),
            "c_nationkey": pa.array([0] * 5, pa.int32()),
            "c_acctbal": pa.array([0.0] * 5, pa.float64()),
            "c_mktsegment": pa.array(["M"] * 5),
        }
    )
    pq.write_table(cust, os.path.join(root, "customer.parquet"))

    # embeddings (dim 2, float32-exact halves):
    #   ids 0..19    : IDENTICAL vectors (duplicate head run)
    #   ids 20..119  : tight cluster A — with the head run lands a
    #                  cell OVER 4*25=100 -> must split
    #   ids 120..219 : tight cluster B sized exactly 100 -> at the
    #                  threshold, must NOT split (rule is strictly >)
    #   ids 220..223 : far-out seeds so k=4 init spreads
    rows_id, rows_v = [], []
    for i in range(20):
        rows_id.append(i); rows_v.append([1.0, 1.0])
    for i in range(20, 120):
        rows_id.append(i); rows_v.append([1.0 + (i % 8) * 0.125, 1.0])
    for i in range(120, 220):
        rows_id.append(i); rows_v.append([50.0 + (i % 8) * 0.125, 50.0])
    for i, v in zip(range(220, 224), ([99.0, 0.0], [0.0, 99.0], [99.0, 99.0], [75.0, 12.0])):
        rows_id.append(i); rows_v.append(v)
    emb = pa.table(
        {
            "vec_id": pa.array(rows_id, pa.int64()),
            "embedding": pa.array(
                [np.asarray(v, dtype=np.float32) for v in rows_v],
                pa.list_(pa.float32()),
            ),
            "label": pa.array([0] * len(rows_id), pa.int32()),
        }
    )
    pq.write_table(emb, os.path.join(root, "embeddings.parquet"))

    # lineitem: a 4-clique co-purchase graph (orders o1/o2 repeat the
    # same 4-item basket, so all 6 edges have support 2) with one
    # duplicated line inside o1 (in-basket dedup), an order whose new
    # pairs have support 1 only (must be dropped), and a support-2
    # edge in no triangle (its endpoints must be absent). All clique
    # degrees tie at 3, exercising the orientation key tie-break.
    import datetime as dt2

    # shipdates straddle the IVM cutoff (1996-01-01): order 1's lines
    # are pre-cutoff (base x base), order 2's pre-cutoff lines under a
    # post-cutoff order (delta_orders), order 4's post-cutoff lines
    # under a pre-cutoff order (delta_lineitem), order 5 post x post
    # (delta_both), order 3 mixed — plus one line EXACTLY AT the
    # cutoff instant (>= rule: delta side).
    pre = dt2.datetime(1995, 6, 1)
    post = dt2.datetime(1997, 6, 1)
    at_cutoff = dt2.datetime(1996, 1, 1)
    # the None shipdate below (and order 8's None orderdate) pin the
    # IVM NULL rule: a row whose cutoff column is NULL joins NEITHER
    # batch and is excluded from the maintained view in both engines.
    li_rows = [
        (1, 1, pre), (1, 1, pre), (1, 2, pre), (1, 3, pre), (1, 4, pre),
        (2, 1, pre), (2, 2, pre), (2, 3, pre), (2, 4, pre),
        (3, 1, pre), (3, 2, at_cutoff), (3, 5, post),
        (4, 6, post), (4, 7, post),
        (5, 6, post), (5, 7, post),
        (3, 5, None),
        (8, 1, pre),
        (7, 1, pre),
    ]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array([r[0] for r in li_rows], pa.int64()),
            "l_partkey": pa.array([r[1] for r in li_rows], pa.int64()),
            "l_suppkey": pa.array([1] * len(li_rows), pa.int64()),
            "l_linenumber": pa.array(range(1, len(li_rows) + 1), pa.int32()),
            "l_quantity": pa.array([1.0] * len(li_rows), pa.float64()),
            "l_extendedprice": pa.array(
                [float(i) for i in range(1, len(li_rows) + 1)], pa.float64()
            ),
            "l_discount": pa.array([0.0] * len(li_rows), pa.float64()),
            "l_tax": pa.array([0.0] * len(li_rows), pa.float64()),
            "l_returnflag": pa.array(["N"] * len(li_rows)),
            "l_linestatus": pa.array(["O"] * len(li_rows)),
            "l_shipdate": pa.array(
                [r[2] for r in li_rows], pa.timestamp("us")
            ),
        }
    )
    pq.write_table(lineitem, os.path.join(root, "lineitem.parquet"))

    # orders: o2 sits EXACTLY at the cutoff (>= rule puts it in the
    # delta batch); o1/o4 are base, o3/o5 delta; o6 matches no lines
    # (inner join must drop it identically in both engines).
    # o7 has NULL custkey / NULL totalprice and no lines: profiles
    # must count the nulls, the FK audit counts a NULL FK as an
    # orphan ROW but never an orphan KEY (COUNT(DISTINCT NULL) = 0 in
    # both engines), and the IVM inner join drops it identically.
    o_rows = [
        (1, 1, 1.005, dt2.datetime(1995, 12, 31)),
        (2, 1, 2.0, at_cutoff),
        (3, 1, 3.0, dt2.datetime(1997, 1, 1)),
        (4, 1, 4.0, dt2.datetime(1995, 1, 1)),
        (5, 99, 5.0, dt2.datetime(1996, 6, 1)),
        (6, 1, 6.0, dt2.datetime(1995, 3, 1)),
        # order 7: NULL custkey AND NULL price, 'O' status, carries a
        # line, and holds the CORPUS-MAX order date — pinning (a) the
        # SCD-2 skip-unchanged rule (NULL re-prices to NULL => v2
        # suppressed => dim_version 1), and (b) that the RFM
        # reference date excludes NULL-custkey rows in BOTH engines.
        (7, None, None, dt2.datetime(1998, 7, 1)),
        (8, 1, 8.0, None),
    ]
    orders = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in o_rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in o_rows], pa.int64()),
            "o_orderstatus": pa.array(["O"] * len(o_rows)),
            "o_totalprice": pa.array(
                [r[2] for r in o_rows], pa.float64()
            ),
            "o_orderdate": pa.array(
                [r[3] for r in o_rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array(["1-URGENT"] * len(o_rows)),
        }
    )
    pq.write_table(orders, os.path.join(root, "orders.parquet"))

    # supplier 2 only: every lineitem references supplier 1 -> all 16
    # child rows orphaned but just ONE distinct orphan key. parts
    # 1..5: lineitem parts 6/7 orphaned. customer 99 (order 5) is an
    # orphan custkey.
    supplier = pa.table(
        {
            "s_suppkey": pa.array([2], pa.int64()),
            "s_name": pa.array(["s2"]),
            "s_nationkey": pa.array([0], pa.int32()),
            "s_acctbal": pa.array([0.0], pa.float64()),
        }
    )
    pq.write_table(supplier, os.path.join(root, "supplier.parquet"))
    part = pa.table(
        {
            "p_partkey": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "p_name": pa.array([f"p{i}" for i in range(1, 6)]),
            "p_brand": pa.array(["B"] * 5),
            "p_type": pa.array(["T"] * 5),
            "p_size": pa.array([1] * 5, pa.int32()),
            "p_retailprice": pa.array([1.0] * 5, pa.float64()),
        }
    )
    pq.write_table(part, os.path.join(root, "part.parquet"))
    return root


@pytest.fixture(scope="module")
def edge_rel_duck(edge_rel_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "embeddings", "lineitem",
              "orders", "supplier", "part"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{edge_rel_dir}/{t}.parquet'"
        )
    yield con
    con.close()


EDGE_REL_QUERIES = [
    "daves_enacted_assignments",  # customer-less nation's plans vanish
    "locality_hierarchy_paths",   # empty region; single-nation chain
    "hierarchical_cells_assign",  # duplicate head run; exact-threshold cell
    "copurchase_triangles",       # 4-clique, tied degrees, support-1 drop
    "join_delta_maintenance",     # order/line EXACTLY at the cutoff; no-line order
    "table_profile_stats",        # NULL custkey/totalprice; sub-cent boundary
    "fk_integrity_audit",         # orphan rows vs orphan keys; NULL-FK row
    "clustering_coefficient",     # 4-clique cc=1e6; degree-1 pair cc=0
    "scd2_pointintime_join",      # every fact version against a tiny dim
    "bucket_checksum_diff",       # NULL-price row exercises the sentinel
    "join_fanout_skew_report",    # corpus smaller than k; NULL key dropped
    "customer_rfm_segments",      # NULL custkey/orderdate excluded; 1-order users
    "embedding_drift_monitor",    # duplicate head run split across halves
    "golden_record_merge",        # custkey 0: every field gapped, CRM fills all
    "association_rules",          # clique rules; support-1 pairs dropped
    "order_hierarchy_paths",      # orphan custkey 99 drops in BOTH engines
    #   (recursion never reaches it; oracle inner-join filters it);
    #   NULL-custkey order excluded, NULL-orderdate order kept
    "ivf_blocked_neardup",        # 20-way duplicate head run: twin pairs
    #   at cosine exactly 1; threshold cell boundary shared with
    #   hierarchical_cells_assign
    "ivf_blocked_neardup_strict",  # planted twins COMPOSE with the
    #   20-way natural duplicate run (cosine exactly 1 on both);
    #   max(vec_id)+1 offset exercised on the edge id space
    "ivf_multiprobe_neardup",     # duplicate runs quantize to one
    #   cell -> pairs dedup through the exact DISTINCT; rn<=2
    #   tie-break on the degenerate geometry
]


@pytest.mark.parametrize("name", EDGE_REL_QUERIES)
def test_edge_rel_inputs_match_oracle(spark, edge_rel_dir, edge_rel_duck, name):
    spec = REGISTRY[name]
    df = spec.spark(spark, edge_rel_dir)
    assert_matches_oracle(df, edge_rel_duck, spec.oracle, f"edge:{name}")


def test_edge_triangle_clique_semantics(spark, edge_rel_dir):
    """Each 4-clique member sits in exactly C(3,2)=3 triangles; the
    support-1 edges around part 5 close no triangle; the isolated
    support-2 edge (6,7) contributes no output rows at all."""
    rows = {
        r["part"]: r["n_triangles"]
        for r in REGISTRY["copurchase_triangles"]
        .spark(spark, edge_rel_dir)
        .collect()
    }
    assert rows == {1: 3, 2: 3, 3: 3, 4: 3}


def test_edge_ivm_null_dates_are_excluded(spark, edge_rel_dir):
    """The (3,5,NULL-shipdate) line and order 8's NULL orderdate must
    be absent from the maintained join view (NULL joins neither the
    base nor the delta batch), while their non-NULL twins remain."""
    rows = REGISTRY["join_delta_maintenance"].spark(
        spark, edge_rel_dir
    ).collect()
    keys = {(r["o_orderkey"], r["l_linenumber"]) for r in rows}
    assert (3, 17) not in keys        # the NULL-shipdate line
    assert all(k != 8 for k, _ in keys)  # the NULL-orderdate order
    assert (3, 12) in keys            # its non-NULL twin line


def test_edge_split_threshold_is_strict(spark, edge_rel_dir):
    """The 100-member cell sits exactly AT 4*per_cell and must stay
    whole; the 120-member cell must split; the 20 identical head
    vectors must share one subcell."""
    df = REGISTRY["hierarchical_cells_assign"].spark(spark, edge_rel_dir)
    rows = df.collect()
    from collections import Counter

    by_cell = Counter(r["cluster_id"] for r in rows)
    split_cells = {
        r["cluster_id"] for r in rows if r["sub_id"] > 0
    }
    for cell, n in by_cell.items():
        if n > 100:
            assert cell in split_cells, (cell, n)
        if n <= 100:
            assert cell not in split_cells, (cell, n)
    dup_subs = {
        (r["cluster_id"], r["sub_id"]) for r in rows if r["vec_id"] < 20
    }
    assert len(dup_subs) == 1, dup_subs
